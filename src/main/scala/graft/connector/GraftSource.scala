package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, FieldReference, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.sources.DataSourceRegister

import graft.catalog.{DataFile, Snapshot, TableCatalog}

/** DataSource V2 connector for the graft [[TableCatalog]]:
  * `spark.read.format("graft").option("root", r).option("table", fq)`.
  *
  * This is the 100 TB read path as a first-class Spark source rather
  * than a catalog method call — the scan PLANS against the commit
  * metadata and ships only surviving files to executors:
  *
  *  - **Filter pushdown → file skipping.** Pushed range/equality
  *    predicates are evaluated against the `_STATS` per-file [min,max]
  *    sidecars and `_BLOOMS` bitsets at planning time; files that
  *    cannot match are never scheduled. Every pushed filter is ALSO
  *    kept as a residual Spark re-applies, so skipping is advisory for
  *    correctness (exactly Delta/Iceberg's contract).
  *  - **Column pruning is physical.** `pruneColumns` reaches the
  *    parquet reader as a requested schema; unprojected columns' pages
  *    are never decompressed.
  *  - **Merge-on-read inside the reader.** Outstanding deletion-vector
  *    row indexes ride the InputPartition and are skipped by a sorted
  *    pointer walk as the file streams — no join, no shuffle, O(dv)
  *    extra memory per file.
  *  - **Aggregate pushdown answers from metadata.** COUNT(*)/MIN/MAX
  *    with no GROUP BY over a stats-covered, DV-free table returns a
  *    single driver-computed row: zero data files opened — the "count
  *    a 100 TB table in milliseconds from the log" fast path.
  *  - **Micro-batch streaming with manifest-version offsets.** The
  *    table is a streaming source: each committed version is an
  *    offset; a batch reads exactly the files that version added
  *    (O(delta) appends make this the file diff of two manifests).
  *    Checkpointed offsets give exactly-once across restarts.
  *    Non-append changes (overwrite/compact/new DVs) fail the stream
  *    loudly, like Delta without `ignoreChanges`.
  *
  *  - **Hive-partitioned tables read natively.** Path-encoded
  *    partition columns come back typed (partition-discovery
  *    inference), synthesized per file — as `initBatch` constant
  *    vectors on the columnar path, casted constants on the row path —
  *    and pushed filters on partition columns prune whole FILES at
  *    planning time by exact value (the partition-pruning analog,
  *    composing with stats/bloom skipping on data columns and with
  *    runtime join filters). Partitioned tables also STREAM (each
  *    delivered file carries its partition values) and accept SQL
  *    CTAS/INSERT writes via the clustered staged-commit path.
  */
class GraftSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def resolve(options: CaseInsensitiveStringMap): (String, String, Int) = {
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException("graft source requires option 'root'"))
    val fq = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("graft source requires option 'table'"))
    val cat = new TableCatalog(SparkSession.active, root)
    val v = Option(options.get("version")).map(_.toInt)
      .orElse(cat.version(fq)).getOrElse(
        throw new IllegalArgumentException(s"graft table not found: $fq"))
    (root, fq, v)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    // a WRITE creating a new table has nothing to infer — return an
    // empty schema; the write path uses LogicalWriteInfo.schema and
    // the read path rejects absent tables anyway
    val root = options.get("root"); val fq = options.get("table")
    if (root != null && fq != null && options.get("version") == null &&
        new TableCatalog(spark, root).version(fq).isEmpty)
      return new StructType()
    val (r, f, v) = resolve(options)
    // the snapshot's chain schema: evolved chains expose every column,
    // conflicting chains fail loudly (not schema-of-arbitrary-file);
    // hive-partitioned versions recover path-encoded columns via
    // partition discovery
    val base = new TableCatalog(spark, r).snapshot(f, v).schema
    // change-data-feed reads append the change metadata columns
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      GraftChanges.cdfSchema(base)
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap
    if (opts.exists { case (k, v) =>
        k.equalsIgnoreCase("readChangeFeed") && v.toBoolean }) {
      // schema here is cdfSchema(base) from inferSchema — strip the
      // change columns back off for the table's base schema
      val base = StructType(schema.fields.filterNot(f =>
        f.name == GraftChanges.ChangeType || f.name == GraftChanges.CommitVersion))
      new GraftCdfTable(base, opts)
    } else new GraftTable(schema, opts)
  }

  /** Writes hand the incoming DataFrame's schema to [[getTable]]
    * (create-on-first-write needs it — there is nothing to infer);
    * reads without a user schema still go through [[inferSchema]]. */
  override def supportsExternalMetadata(): Boolean = true
}

class GraftTable(schema: StructType, options: Map[String, String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private def opt(k: String) = options.collectFirst {
    case (key, v) if key.equalsIgnoreCase(k) => v
  }

  /** Surface the table's stored CHECK constraints (DESCRIBE, and any
    * engine-side planner use) — enforcement itself happens inside the
    * write paths, per row. NOT NULL constraints have no Check shape
    * and stay internal. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    try {
      val cat = new graft.catalog.TableCatalog(
        org.apache.spark.sql.SparkSession.active, opt("root").get)
      val fq = opt("table").get
      opt("version").map(_.toInt).orElse(cat.version(fq)).toArray.flatMap { v =>
        cat.snapshot(fq, v).constraints.filter(_.kind == "check").map { c =>
          org.apache.spark.sql.connector.catalog.constraints.Constraint
            .check(c.name).predicateSql(c.arg)
            .enforced(true)
            .validationStatus(org.apache.spark.sql.connector.catalog
              .constraints.Constraint.ValidationStatus.VALID)
            .build()
            : org.apache.spark.sql.connector.catalog.constraints.Constraint
        }
      }
    } catch { case _: Exception => Array.empty }

  /** Row-id metadata columns (`_gfile`, `_gpos`) — the DV address
    * space, synthesized by the reader. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    import org.apache.spark.sql.connector.catalog.MetadataColumn
    Array(
      new MetadataColumn {
        override def name(): String = GraftSource.RowIdFile
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path (DV address)"
      },
      new MetadataColumn {
        override def name(): String = GraftSource.RowIdPos
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "physical row index (DV address)"
      })
  }

  /** SQL UPDATE / MERGE INTO / row-level DELETE: delta-based rewrite
    * — see [[GraftRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(opt("root").get, opt("table").get,
      info.command(), schema)

  /** SQL `DELETE FROM graft_cat.db.s.t WHERE ...` lands here as
    * metadata-level delete filters — routed into MERGE-ON-READ
    * deletion vectors: O(matched rows) sidecar bytes, ZERO data files
    * rewritten, prior versions time-travel intact. Untranslatable
    * predicates are rejected (canDeleteWhere=false) rather than
    * approximated. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(FilterColumns.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = FilterColumns.conjunction(filters.toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"untranslatable DELETE predicate: ${filters.mkString(", ")}"))
    val cat = new TableCatalog(SparkSession.active, opt("root").get)
    cat.deleteWhereDV(opt("table").get, pred)
  }
  override def name(): String = s"graft.${opt("table").getOrElse("?")}"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(schema,
      opt("root").get, opt("table").get,
      // Delta-style reader-option time travel: explicit `version`
      // wins; `timestampAsOf` accepts micros-since-epoch OR an
      // ISO-8601 date/timestamp in the session timezone
      opt("version").map(_.toInt).orElse(opt("timestampAsOf").map { ts =>
        new TableCatalog(SparkSession.active, opt("root").get)
          .versionAsOfTimestamp(opt("table").get, ts)
      }),
      columnarEnabled = opt("columnar").forall(_.toBoolean),
      skipChangeCommits = opt("skipChangeCommits").exists(_.toBoolean),
      maxFilesPerTrigger = opt("maxFilesPerTrigger").map(_.toInt),
      maxBytesPerTrigger = opt("maxBytesPerTrigger").map(_.toLong))
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // bucketed layouts: the writer routes each row to its bucket dir
    // executor-side (same murmur3 as the catalog writer and the V2
    // `bucket` function) — identity partitions path-encode, the
    // synthetic routing column never enters the logical schema
    val bucketSpec = opt("bucketSpec").map { s =>
      val Array(c, n) = s.split(','): @unchecked
      (c, n.toInt)
    }
    new GraftWriteBuilder(opt("root").get, opt("table").get, info.schema(),
      tableSchema = schema, queryId = info.queryId(),
      partitionCols = opt("partitions")
        .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
        .filterNot(_ == graft.catalog.TableCatalog.BucketCol),
      targetFileBytes = opt("targetFileSize")
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(128L << 20),
      bucketSpec = bucketSpec,
      replaceTable = opt("replaceTable").exists(_.toBoolean))
  }

  override def partitioning(): Array[Transform] = {
    val pcols = opt("partitions").map(_.split(',').toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    opt("bucketSpec") match {
      case Some(s) =>
        // the synthetic routing column renders as the bucket TRANSFORM
        // (always last in the layout); identity partitions lead
        val Array(c, n) = s.split(','): @unchecked
        (pcols.filterNot(_ == graft.catalog.TableCatalog.BucketCol)
          .map(p => org.apache.spark.sql.connector.expressions.Expressions
            .identity(p): Transform) :+
          (org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n.toInt, c): Transform)).toArray
      case None =>
        pcols.map(c => org.apache.spark.sql.connector.expressions.Expressions
          .identity(c): Transform).toArray
    }
  }
}

class GraftScanBuilder(tableSchema: StructType, root: String, fq: String,
    versionOpt: Option[Int], columnarEnabled: Boolean = true,
    skipChangeCommits: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var required: StructType = tableSchema
  private var skipFilters: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggResult: Option[(StructType, Array[Any])] = None

  /** The ONE version this scan plans and reads, resolved at the first
    * planning call and shared with the built [[GraftScan]]: an
    * unpinned scan must not take its file list from one version and
    * its DVs or sizes from a later one. */
  private lazy val snap: Snapshot = {
    val cat = new TableCatalog(SparkSession.active, root)
    cat.snapshot(fq, versionOpt.orElse(cat.version(fq)).getOrElse(
      throw new IllegalArgumentException(s"graft table not found: $fq")))
  }

  // ---- filters: everything stays residual; the skippable subset is
  //      recorded for planning-time file elimination ----
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    skipFilters = filters.flatMap(flatten).filter(skippable)
    filters // all residual — Spark re-applies row-level
  }
  override def pushedFilters(): Array[Filter] = skipFilters

  private def flatten(f: Filter): Seq[Filter] = f match {
    case And(l, r) => flatten(l) ++ flatten(r)
    case other     => Seq(other)
  }

  /** A filter usable for file elimination: a comparison against a
    * stats-ordered constant (numbers, dates, timestamps — or strings
    * via the truncation-safe `s:` bounds), a prefix predicate
    * (= a string range), or a bloom-probeable equality. */
  private def skippable(f: Filter): Boolean = f match {
    case EqualTo(_, v)            => rangeable(v) || bloomable(v)
    case GreaterThan(_, v)        => rangeable(v)
    case GreaterThanOrEqual(_, v) => rangeable(v)
    case LessThan(_, v)           => rangeable(v)
    case LessThanOrEqual(_, v)    => rangeable(v)
    case StringStartsWith(_, _)   => true
    case In(_, vs) => vs.nonEmpty &&
      (vs.forall(rangeable) || vs.forall(bloomable))
    case _ => false
  }

  private def rangeable(v: Any): Boolean =
    statValue(v).isDefined || v.isInstanceOf[String] ||
      v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]

  private def statValue(v: Any): Option[BigDecimal] =
    TableCatalog.statDecimal(v) // numerics / epoch-day dates / micros ts

  /** Bloom probes must reproduce the build-side `CAST(col AS STRING)`
    * exactly; integral and string values stringify canonically,
    * floating point is excluded (a formatting mismatch would skip a
    * file that holds the value). */
  private def bloomable(v: Any): Boolean = v match {
    case _: Byte | _: Short | _: Int | _: Long | _: String => true
    case u: org.apache.spark.unsafe.types.UTF8String => true
    case _ => false
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = { limit = n; true }
  override def isPartiallyPushed(): Boolean = true // per-file limit only

  // ---- aggregate pushdown: COUNT(*)/MIN/MAX from commit metadata ----
  // Spark probes supportCompletePushDown then pushAggregation with the
  // same Aggregation — memoize so the _STATS sidecars parse once.
  private var aggCache: Option[(Aggregation, Option[(StructType, Array[Any])])] =
    None
  private def computeAggCached(agg: Aggregation)
      : Option[(StructType, Array[Any])] = aggCache match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = computeAgg(agg); aggCache = Some((agg, r)); r
  }
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    computeAggCached(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggResult = computeAggCached(agg)
    aggResult.isDefined
  }

  private def refName(e: Expression): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
    case _ => None
  }

  /** Evaluate the aggregation from `_STATS` alone, iff it is exactly
    * answerable: no grouping, only COUNT(*)/MIN/MAX over stats-covered
    * columns (or PARTITION columns — their extrema come from the path
    * strings), every file carrying stats, and no outstanding DVs (a
    * masked row could BE the min/max; counts could subtract, but one
    * hazard is enough to fall back to a real scan). */
  private def computeAgg(agg: Aggregation): Option[(StructType, Array[Any])] = {
    if (agg.groupByExpressions().nonEmpty) return None
    if (snap.dvFiles.nonEmpty) return None
    val files = snap.files
    if (files.isEmpty || files.exists(_.rows.isEmpty)) return None
    val partCols = snap.partitionColumns
    /** MIN/MAX of a partition column from path strings — answerable
      * only when EVERY file path-encodes it (mixed evolved chains
      * fall back to a real scan). Null partitions drop out (SQL MIN/
      * MAX ignore nulls); all-null → null. */
    def partExtreme(name: String, dt: DataType, wantMin: Boolean)
        : Option[Any] = {
      val per = files.map(_.partitionValues.toMap.get(name))
      if (per.exists(_.isEmpty)) return None // some file lacks the col
      val raws = per.flatten.flatten
      if (raws.isEmpty) return Some(null) // only null partitions
      GraftPartitions.extreme(raws, dt, wantMin)
    }

    // `_STATS` key by PHYSICAL column name (column mapping)
    val physOf = snap.columnMapping.physicalOf
    def colBounds(name: String): Option[(BigDecimal, BigDecimal)] = {
      val phys = physOf.getOrElse(name, name)
      val per = files.map(_.stats.get(phys))
      if (per.exists(_.isEmpty)) None
      else Some((per.flatten.map(_._1).min, per.flatten.map(_._2).max))
    }
    def sparkValue(b: BigDecimal, dt: DataType): Any = dt match {
      case LongType              => b.toLong
      case IntegerType           => b.toInt
      case DateType              => b.toInt
      case ShortType             => b.toShort
      case FloatType             => b.toFloat
      case DoubleType            => b.toDouble
      case _                     => null
    }
    def colType(name: String): Option[DataType] =
      tableSchema.fields.find(_.name == name).map(_.dataType)
    def supportedStatType(dt: DataType) = dt match {
      case LongType | IntegerType | DateType | ShortType |
           FloatType | DoubleType => true
      case _ => false
    }

    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    agg.aggregateExpressions().foreach {
      case _: CountStar =>
        fields += StructField("COUNT(*)", LongType, nullable = false)
        values += files.flatMap(_.rows).sum
      case m: Min =>
        val name = refName(m.column).getOrElse(return None)
        val dt = colType(name).getOrElse(return None)
        if (partCols.contains(name)) {
          val v0 = partExtreme(name, dt, wantMin = true).getOrElse(return None)
          fields += StructField(s"MIN($name)", dt)
          values += v0
        } else {
          if (!supportedStatType(dt)) return None
          val (mn, _) = colBounds(name).getOrElse(return None)
          fields += StructField(s"MIN($name)", dt)
          values += sparkValue(mn, dt)
        }
      case m: Max =>
        val name = refName(m.column).getOrElse(return None)
        val dt = colType(name).getOrElse(return None)
        if (partCols.contains(name)) {
          val v0 = partExtreme(name, dt, wantMin = false).getOrElse(return None)
          fields += StructField(s"MAX($name)", dt)
          values += v0
        } else {
          if (!supportedStatType(dt)) return None
          val (_, mx) = colBounds(name).getOrElse(return None)
          fields += StructField(s"MAX($name)", dt)
          values += sparkValue(mx, dt)
        }
      case _ => return None
    }
    Some((StructType(fields.toSeq), values.toArray))
  }

  override def build(): Scan =
    new GraftScan(root, fq, snap, tableSchema, required, skipFilters,
      limit, aggResult, columnarEnabled, skipChangeCommits,
      maxFilesPerTrigger, maxBytesPerTrigger)
}

/** Planned scan. Batch planning (file skipping, DV loading) happens in
  * [[toBatch]] on the driver against metadata sidecars only — LAZILY,
  * so runtime filters delivered after planning still prune files.
  *
  * [[SupportsRuntimeFiltering]] is the connector's DPP analog: when
  * this scan is the probe side of a broadcast join, Spark hands the
  * build side's key set over as an `In` filter at RUNTIME, and the
  * same stats/bloom elimination then drops whole files before any
  * task launches — a dimension predicate prunes the 100 TB fact scan
  * even though the fact table isn't hive-partitioned. */
class GraftScan(root: String, fq: String, snapshot: => Snapshot,
    tableSchema: StructType, required: StructType,
    skipFilters: Array[Filter], limit: Int,
    aggResult: Option[(StructType, Array[Any])],
    columnarEnabled: Boolean = true,
    skipChangeCommits: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None) extends Scan
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning {

  /** Real size/row estimates from commit metadata (file lengths +
    * `_STATS` row counts of the files SURVIVING filter elimination) —
    * without this a DSv2 scan reports "unknown = huge" and the planner
    * sort-merge-joins tables it should broadcast. The estimate is what
    * turns a small graft dim table into an automatic broadcast side. */
  override def estimateStatistics(): Statistics = {
    val files = surviving
    val bytes = files.map(_.bytes).sum
    val rowsPerFile = files.map(_.rows)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        if (rowsPerFile.exists(_.isEmpty)) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rowsPerFile.flatten.sum)
    }
  }

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  /** STORAGE-PARTITIONED JOIN (opt-in via
    * `spark.sql.sources.v2.bucketing.enabled`): when the table is
    * hive-partitioned and every surviving file path-encodes every
    * partition column, the scan plans ONE partition per partition KEY
    * ([[GraftKeyedPartition]]) and reports [[KeyGroupedPartitioning]]
    * — two graft tables co-partitioned on the join keys then join
    * with ZERO exchange on either side (Spark's SPJ), the
    * co-located-join story for 100 TB fact-fact joins without
    * bucketing. Trade in SPJ mode: parallelism = key count and the
    * scan opts out of runtime (DPP) filtering so the reported and
    * planned partition counts always agree — which is why it takes an
    * EXPLICIT `spark.graft.preserveDataGrouping=true` on top of
    * Spark's `spark.sql.sources.v2.bucketing.enabled` (true by
    * default in Spark 4), exactly Iceberg's preserve-data-grouping
    * opt-in shape. None = normal slicing.
    *
    * SKEW: under `spark.sql.sources.v2.bucketing
    * .partiallyClusteredDistribution.enabled` (+ pushPartValues) a
    * HOT key's files chunk into multiple keyed partitions sized by
    * the normal byte model — Spark replicates the small side over the
    * chunks instead of grouping them back, so one hot partition value
    * no longer caps the join at one task. Without that conf the
    * chunks would be regrouped anyway, so plan one partition per key
    * and keep the plan minimal. */
  private lazy val spjPlan
      : Option[(Array[Expression], Array[InputPartition])] = {
    val spark = SparkSession.active
    val enabled = spark.conf
      .getOption("spark.sql.sources.v2.bucketing.enabled")
      .forall(_.toBoolean) &&
      spark.conf.getOption("spark.graft.preserveDataGrouping")
        .exists(_.toBoolean)
    if (!enabled || aggResult.isDefined || !snap.isPartitioned) None
    else {
      val pcols = snap.partitionColumns
      // bucket(n, col) layout: the key is the synthetic bucket id
      // (int), reported as a bucket TRANSFORM the SQL catalog's V2
      // `bucket` function resolves — SPJ at any key cardinality.
      // Composite layouts (identity partitions + bucket) key on
      // (identity values…, bucket id) in layout order.
      val bucketSpec = snap.bucketSpec.filter { case (bc, _) =>
        snap.isBucketed && tableSchema.fieldNames.contains(bc) }
      val types: Seq[Option[org.apache.spark.sql.types.DataType]] =
        pcols.map { pc =>
          if (pc == TableCatalog.BucketCol)
            if (bucketSpec.isDefined)
              Some(org.apache.spark.sql.types.IntegerType)
            else None // bucket layout with an unresolvable spec: no SPJ
          else tableSchema.fields.find(_.name == pc).map(_.dataType)
        }
      val surv = surviving
      val fullyEncoded = surv.nonEmpty && surv.forall { f =>
        val m = f.partitionValues.toMap; pcols.forall(m.contains)
      }
      if (!fullyEncoded || types.exists(_.isEmpty)) None
      else {
        val groups = surv.groupBy { f =>
          val m = f.partitionValues.toMap; pcols.map(m(_))
        }
        val partiallyClustered = spark.conf.getOption(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
          .exists(_.toBoolean)
        // hot-key chunk target from the GLOBAL byte model (per-key
        // totals would over-split small keys)
        val (maxPB, openCost, par) = GraftSource.sliceKnobs()
        val totalBytes = surv.map(_.bytes + openCost).sum
        val maxSplit = math.min(maxPB,
          math.max(openCost, totalBytes / math.max(1, par)))
        val parts = groups.toSeq.sortBy(_._1.toString)
          .flatMap { case (rawKey, files) =>
            val keyRow = new GenericInternalRow(
              rawKey.zip(types.map(_.get)).map {
                case (raw, dt) => GraftPartitions.castValue(raw, dt)
              }.toArray[Any])
            val inputs = files.map(f => GraftSlicePlanner.FileInput(
              f.path, f.bytes, f.dvRows, f.partitionValues))
            if (!partiallyClustered)
              Seq(GraftKeyedPartition(inputs.map(f =>
                GraftSlice(f.path, 0L,
                  if (f.bytes <= 0L) Long.MaxValue else f.bytes,
                  f.dvRows, f.partValues)),
                keyRow): InputPartition)
            else GraftSlicePlanner.plan(inputs,
                maxPartitionBytes = maxSplit, openCostInBytes = openCost,
                // row-id (_gfile/_gpos) scans must never byte-split:
                // the reader synthesizes SLICE-relative row indexes,
                // and a sub-range would corrupt the DV address space
                // a row-level operation commits against
                minPartitions = 1, splitAllowed =
                  !required.fieldNames.exists(n =>
                    n == GraftSource.RowIdFile || n == GraftSource.RowIdPos))
              .map { case p: GraftFilesPartition =>
                GraftKeyedPartition(p.slices, keyRow): InputPartition
              }
          }
        val transforms: Array[Expression] = pcols.map { pc =>
          bucketSpec match {
            case Some((bc, n)) if pc == TableCatalog.BucketCol =>
              org.apache.spark.sql.connector.expressions
                .Expressions.bucket(n, bc): Expression
            case _ =>
              org.apache.spark.sql.connector.expressions
                .Expressions.identity(pc): Expression
          }
        }.toArray
        Some((transforms, parts.toArray))
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjPlan match {
      case Some((transforms, parts)) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(transforms, parts.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  // only columns present in the scan OUTPUT: the optimizer resolves
  // these against the PRUNED schema, and naming a pruned-away column
  // crashes PartitionPruning's ref resolution. (Join keys are always
  // in the output, so nothing filterable is lost.) None in agg mode,
  // and none in SPJ mode (see spjPlan — runtime pruning would desync
  // the reported key-grouped partition count).
  override def filterAttributes(): Array[NamedReference] =
    if (aggResult.isDefined || spjPlan.isDefined) Array.empty
    else required.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  override def readSchema(): StructType =
    aggResult.map(_._1).getOrElse(required)

  override def description(): String = {
    val agg = aggResult.map(a =>
      s", PushedAggregates: [${a._1.fieldNames.mkString(", ")}]").getOrElse("")
    s"graft $fq, SkipFilters: [${skipFilters.mkString(", ")}]$agg"
  }

  /** The version this scan plans and reads — resolved once (see
    * [[GraftScanBuilder]]). */
  private lazy val snap: Snapshot = snapshot

  /** Column mapping of the scanned version: pushed filters and the
    * readers' requested schemas translate logical→physical through
    * this (sidecars and parquet footers know only physical names). */
  private lazy val physOf: Map[String, String] = snap.columnMapping.physicalOf

  /** Compile-time skip filters AND runtime (join-pushed) filters, on
    * PHYSICAL names. */
  private def activeFilters: Seq[Filter] =
    (skipFilters ++ runtimeFilters).toSeq.map(FilterColumns.mapAttrs(_, physOf))

  /** Files surviving [[FileSkipping.prune]] under the current filters
    * (missing sidecar ⇒ keep — advisory). */
  private def surviving: Seq[DataFile] = FileSkipping.prune(snap, activeFilters)

  override def toBatch: Batch = new Batch {
    // planned at invocation time, not scan-build time: runtime filters
    // (DPP-style join key sets) arrive between the two. Memoized so
    // the factory's columnar decision sees the same partitions Spark
    // schedules (the DSv2 contract forbids mixing row and columnar
    // partitions within one scan).
    private def metaRequested: Boolean = readSchema().fieldNames.exists(n =>
      n == GraftSource.RowIdFile || n == GraftSource.RowIdPos)
    private lazy val parts: Array[InputPartition] =
      aggResult match {
        case Some((_, values)) => Array(GraftAggPartition(values))
        case None => spjPlan.map(_._2).getOrElse {
          val surv = surviving
          // ROW-GROUP pruning: pushed range/point predicates against
          // the per-group `g:`/`gs:` bounds drop non-matching byte
          // windows INSIDE multi-group files — a point range over a
          // sorted 10 GB file schedules one row group, not 80 splits.
          // Row-id scans skip this (sub-ranges renumber `_gpos`), as
          // do DV'd files (the planner falls back to whole-file).
          val rgRanges: Map[String, Seq[(Long, Long)]] =
            if (metaRequested) Map.empty
            else FileSkipping.rowGroupRanges(surv.filter(_.dvRows.isEmpty),
              activeFilters)
          val inputs = surv.map(f => GraftSlicePlanner.FileInput(f.path,
            f.bytes, f.dvRows, f.partitionValues, ranges = rgRanges.get(f.key),
            groupStarts = f.groupStarts))
          // Spark's own split-size model: task count tracks bytes, not
          // file count (bigs split at row-group seams, smalls coalesce).
          // `_gpos` scans never byte-split: the synthesized row index
          // is file-relative.
          GraftSource.planSlices(inputs, splitAllowed = !metaRequested)
        }
      }
    override def planInputPartitions(): Array[InputPartition] = parts
    override def createReaderFactory(): PartitionReaderFactory = {
      val out = readSchema()
      // vectorized decode whenever the whole scan qualifies: plain
      // batch read without synthesized row-id columns. DV'd files stay
      // columnar too — masked batches wrap their vectors with a
      // survivor map (MaskedColumnVector) instead of dropping the
      // whole scan to the boxed row reader.
      val columnar = columnarEnabled && aggResult.isEmpty && !metaRequested
      new GraftReaderFactory(out, limit, activeFilters.toArray,
        columnar, GraftSource.shippedConf(), physOf)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(aggResult.isEmpty, "aggregate pushdown not valid for streaming")
    new GraftMicroBatchStream(root, fq, required, skipFilters, limit,
      skipChangeCommits, maxFilesPerTrigger, maxBytesPerTrigger)
  }
}

/** Metadata-answered aggregate: the single result row's values. */
case class GraftAggPartition(values: Array[Any]) extends InputPartition

class GraftReaderFactory(schema: StructType, limit: Int,
    filters: Array[Filter] = Array.empty, columnar: Boolean = false,
    conf: graft.util.SerializableHadoopConf = null,
    physOf: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {
  // null only when constructed by old callers/tests: executor falls
  // back to classpath defaults, exactly the pre-propagation behavior.
  // The readers never mutate it (the row reader's opens copy it, the
  // columnar reader builds a per-slice JobConf from it), so each reader
  // shares the shipped instance instead of copying it.
  private def hadoopConf: Configuration =
    if (conf == null) new Configuration() else conf.value

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftAggPartition(values) => new PartitionReader[InternalRow] {
        private var done = false
        override def next(): Boolean = { val r = !done; done = true; r }
        override def get(): InternalRow = new GenericInternalRow(values.clone())
        override def close(): Unit = ()
      }
      case h: GraftSlicesHolder =>
        new GraftRowReader(h.slices, schema, limit, filters, hadoopConf,
          physOf)
    }

  // scan-wide flag (computed over ALL planned partitions), so every
  // partition answers identically — Spark rejects mixed scans
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case h: GraftSlicesHolder =>
        new GraftColumnarReader(h.slices, schema, limit, filters, hadoopConf,
          physOf)
      case other => throw new IllegalStateException(
        s"columnar read of non-file partition $other")
    }
}

/** Streams a bin-packed set of file slices as InternalRows, skipping
  * (or, in `keepOnly` CDF mode, emitting ONLY) the DV-masked row
  * indexes with a sorted pointer walk per slice — records arrive in
  * physical order, so the running counter IS `_metadata.row_index`.
  *
  * When a slice carries NO row mask, the pushed filters are handed to
  * parquet-hadoop itself ([[GraftParquetIO.toParquetFilter]]) —
  * ROW-GROUP stats skipping + dictionary + record-level filtering
  * below the decode, so a selective predicate over a multi-row-group
  * file never decompresses the non-matching groups. With a mask (or
  * synthesized `_gpos` row ids) the filter stays off: filtered
  * readers renumber rows and would break the row-index addresses
  * (Spark still applies every residual filter either way). */
class GraftRowReader(slices: Seq[GraftSlice], schema: StructType,
    limit: Int, filters: Array[Filter] = Array.empty,
    hadoopConf: Configuration = new Configuration(),
    physOf: Map[String, String] = Map.empty)
    extends PartitionReader[InternalRow] {
  import GraftSource.{RowIdFile, RowIdPos}

  // row-id metadata columns are synthesized here, not read from parquet
  private val isMeta: Array[Boolean] =
    schema.fields.map(f => f.name == RowIdFile || f.name == RowIdPos)
  private val anyMeta = isMeta.exists(identity)
  // column mapping: parquet lookups use PHYSICAL names; the output
  // row order stays the (logical) schema's — purely positional
  private val physFields: Array[org.apache.spark.sql.types.StructField] =
    schema.fields.map(f =>
      physOf.get(f.name).map(p => f.copy(name = p)).getOrElse(f))
  private val physSchema = StructType(physFields)

  private var sliceIdx = -1
  private var cur: GraftSlice = _
  private var reader: org.apache.parquet.hadoop.ParquetReader[
    org.apache.parquet.example.data.Group] = _
  // Some(value-or-null) = per-slice constant (partition value / CDF
  // metadata); None = read from the file
  private var partConst: Array[Option[Any]] = _
  private var plainRow = false // fast path: no meta cols, no constants
  private var rowIdx = -1L
  private var dvPtr = 0
  private var emitted = 0L
  private var current: org.apache.parquet.example.data.Group = _

  private def openNext(): Boolean = {
    sliceIdx += 1
    if (sliceIdx >= slices.size) return false
    cur = slices(sliceIdx)
    val raw = cur.partValues.toMap
    partConst = schema.fields.zipWithIndex.map { case (f, i) =>
      if (isMeta(i)) None
      else raw.get(f.name).map(rv =>
        GraftPartitions.castValue(rv, f.dataType): Any)
    }
    plainRow = !anyMeta && !partConst.exists(_.isDefined)
    val dataSchema = StructType(physFields.zipWithIndex
      .collect { case (f, i) if !isMeta(i) && partConst(i).isEmpty => f })
    val conf = hadoopConf // driver's conf, shipped (fs creds/endpoints)
    val pred =
      if (cur.dvRows.nonEmpty || cur.keepOnly || filters.isEmpty || anyMeta)
        None
      else GraftParquetIO.toParquetFilter(filters.toSeq,
        GraftParquetIO.fileSchema(cur.path, conf))
    // Spark-shaped projection: descends into structs (nested pruning);
    // the byte range assigns this slice its row groups by midpoint
    reader = GraftParquetIO.openReaderFor(cur.path, conf, dataSchema, pred,
      range = Some((cur.start, cur.start + cur.length)))
    rowIdx = -1L; dvPtr = 0
    true
  }

  private def masked(idx: Long): Boolean = {
    val dv = cur.dvRows
    while (dvPtr < dv.length && dv(dvPtr) < idx) dvPtr += 1
    dvPtr < dv.length && dv(dvPtr) == idx
  }

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (reader == null && !openNext()) return false
      // keepOnly with the mask exhausted: nothing left in this slice
      if (cur.keepOnly && dvPtr >= cur.dvRows.length) {
        reader.close(); reader = null
      } else {
        var g = reader.read(); rowIdx += 1
        while (g != null && masked(rowIdx) != cur.keepOnly) {
          g = reader.read(); rowIdx += 1
        }
        if (g != null) { current = g; emitted += 1; return true }
        reader.close(); reader = null // slice exhausted
      }
    }
    false
  }

  override def get(): InternalRow = {
    if (plainRow) return GraftParquetIO.toInternalRow(current, physSchema)
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      vals(i) =
        if (isMeta(i)) {
          if (schema(i).name == RowIdFile)
            org.apache.spark.unsafe.types.UTF8String.fromString(cur.path)
          else rowIdx
        } else partConst(i) match {
          case Some(c) => c // per-slice synthesized constant
          case None => GraftParquetIO.valueOf(current, physFields(i))
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }
  override def close(): Unit = if (reader != null) reader.close()
}

object GraftSource {
  /** Row-id metadata columns: the file's qualified path (rendered
    * identically to `_metadata.file_path`) and the physical row index —
    * the same address space the catalog's deletion vectors mask, which
    * is what lets row-level operations commit their DELETE side as a
    * DV sidecar verbatim. */
  val RowIdFile = "_gfile"
  val RowIdPos = "_gpos"

  /** Driver's Hadoop conf packaged for executor-side readers/writers
    * (runtime `spark.hadoop.*` / object-store settings included). */
  def shippedConf(): graft.util.SerializableHadoopConf =
    new graft.util.SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)

  /** Size scan tasks under the session's file-source knobs
    * (`spark.sql.files.maxPartitionBytes` / `openCostInBytes`) and the
    * cluster's parallelism — the same three inputs Spark's own
    * `FilePartition` model uses. */
  private[connector] def planSlices(inputs: Seq[GraftSlicePlanner.FileInput],
      splitAllowed: Boolean): Array[InputPartition] = {
    val (maxPB, openCost, par) = sliceKnobs()
    GraftSlicePlanner.plan(inputs,
      maxPartitionBytes = maxPB, openCostInBytes = openCost,
      minPartitions = par, splitAllowed = splitAllowed)
  }

  /** The session's task-sizing knobs: (maxPartitionBytes,
    * openCostInBytes, default parallelism). */
  private[connector] def sliceKnobs(): (Long, Long, Int) = {
    val spark = SparkSession.active
    def bytesConf(k: String, dflt: Long): Long =
      spark.conf.getOption(k)
        .map(v => org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
        .getOrElse(dflt)
    (bytesConf("spark.sql.files.maxPartitionBytes", 128L << 20),
      bytesConf("spark.sql.files.openCostInBytes", 4L << 20),
      spark.sparkContext.defaultParallelism)
  }
}

/** Offset = committed manifest version. */
case class GraftOffset(v: Int) extends Offset {
  override def json(): String = s"""{"v":$v}"""
}

/** The catalog table as a streaming source: offsets are manifest
  * versions; batch (start, end] delivers exactly the data files added
  * by those commits (O(delta) appends ⇒ the file diff IS the new
  * data). Append-only is enforced: a missing previously-seen file
  * (overwrite/compact/vacuum) or a DV change mid-stream throws, since
  * already-delivered rows cannot be retracted — Delta's semantics
  * without ignoreChanges. The initial batch (-1 → current) is the
  * snapshot read WITH current DV masks applied.
  *
  * ADMISSION CONTROL ([[SupportsAdmissionControl]], Delta's contract):
  * `maxFilesPerTrigger` / `maxBytesPerTrigger` bound each micro-batch
  * — a stream catching up on a week-old checkpoint over a 100 TB
  * table plans a BOUNDED batch per trigger instead of the entire
  * backlog as one giant batch (one failure = re-read everything).
  * `latestOffset(start, limit)` walks the commits after `start`
  * accumulating each commit's file adds and returns the LAST version
  * that fits the cap — version-granular (a single commit larger than
  * the cap still ships whole; offsets stay exactly the committed
  * manifest versions, so exactly-once replay is untouched). Composes
  * with `Trigger.AvailableNow` (bounded batches drain to the pinned
  * goalpost) and with `skipChangeCommits`. */
class GraftMicroBatchStream(root: String, fq: String, required: StructType,
    skipFilters: Array[Filter], limit: Int,
    skipChangeCommits: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None) extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private def cat = new TableCatalog(SparkSession.active, root)

  // Trigger.AvailableNow: pin the end offset at stream start so the
  // drain has a fixed goalpost even while writers keep committing.
  private var pinned: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(cat.version(fq).getOrElse(-1))

  override def getDefaultReadLimit: ReadLimit = {
    val legs = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    legs match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset =
    GraftOffset(cat.version(fq).getOrElse(-1))

  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val startV = start.asInstanceOf[GraftOffset].v
    val goal = pinned.getOrElse(cat.version(fq).getOrElse(-1))
    if (goal <= startV) return GraftOffset(startV)
    // flatten the limit: None = unbounded on that axis
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    val legs = flatten(readLimit)
    val fileCap: Option[Int] = legs.collectFirst { case f: ReadMaxFiles => f.maxFiles() }
    val byteCap: Option[Long] = legs.collectFirst { case b: ReadMaxBytes => b.maxBytes() }
    if ((fileCap.isEmpty && byteCap.isEmpty) ||
        legs.exists(_.isInstanceOf[ReadAllAvailable]))
      return GraftOffset(goal)
    val c = cat
    // per-commit file ADDS, walked (startV, goal]; a commit whose
    // predecessor was pruned (or the initial -1 snapshot) counts its
    // whole visible file set. Metadata-only: the snapshots' file lists
    // and sizes.
    var admitted = startV
    var files = 0L
    var bytes = 0L
    var prevSet: Set[String] =
      if (startV < 0 || !c.versionRetained(fq, startV)) Set.empty
      else c.snapshot(fq, startV).byKey.keySet
    var v = startV + 1
    var stop = false
    while (v <= goal && !stop) {
      if (c.versionRetained(fq, v)) {
        val cur = c.snapshot(fq, v)
        val adds = cur.files.filterNot(f => prevSet(f.key))
        files += adds.size
        if (byteCap.isDefined) bytes += adds.map(_.bytes).sum
        val over = fileCap.exists(files > _) || byteCap.exists(bytes > _)
        if (over) {
          // always admit at least ONE commit (progress guarantee);
          // version granularity: an oversized single commit ships whole
          if (admitted == startV) admitted = v
          stop = true
        } else { admitted = v; prevSet = cur.byKey.keySet }
      } else { admitted = v } // pruned dir: nothing to size or deliver
      v += 1
    }
    GraftOffset(admitted)
  }

  override def initialOffset(): Offset = GraftOffset(-1)
  override def latestOffset(): Offset =
    GraftOffset(cat.version(fq).getOrElse(-1))
  override def deserializeOffset(json: String): Offset = {
    val m = """\{"v":(-?\d+)\}""".r
    json.trim match {
      case m(v) => GraftOffset(v.toInt)
      case other => throw new IllegalArgumentException(s"bad offset: $other")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val vs = start.asInstanceOf[GraftOffset].v
    val ve = end.asInstanceOf[GraftOffset].v
    if (ve < 0 || ve == vs) return Array.empty
    val c = cat
    val last = c.snapshot(fq, ve)
    val newFiles: Seq[DataFile] =
      if (vs < 0) last.files
      else if (skipChangeCommits) {
        // Delta's skipChangeCommits: walk the commits (vs, ve] one by
        // one, deliver the file adds of PURE APPENDS, silently skip
        // any commit that removed a file or touched the DV set
        // (rewrite/compact/overwrite/MoR mutation) — a continuously
        // maintained table still feeds the stream, with the documented
        // caveat that rewritten/masked rows are neither re-delivered
        // nor retracted. A commit whose predecessor dir was already
        // pruned cannot be diffed and counts as a change commit (its
        // surviving appends would still be referenced and retained).
        val adds = Set.newBuilder[String]
        var v = vs + 1
        while (v <= ve) {
          if (c.versionRetained(fq, v) && c.versionRetained(fq, v - 1)) {
            val (prev, cur) = (c.snapshot(fq, v - 1), c.snapshot(fq, v))
            val pureAppend = prev.byKey.keySet.subsetOf(cur.byKey.keySet) &&
              prev.dvKeys == cur.dvKeys
            if (pureAppend) adds ++= cur.byKey.keySet -- prev.byKey.keySet
          }
          v += 1
        }
        // deliver only adds still present at ve (a later rewrite may
        // have retired an earlier append's files — those rows changed,
        // so their commit is skipped like any other change)
        val added = adds.result()
        last.files.filter(f => added(f.key))
      } else {
        val start = c.snapshot(fq, vs)
        val removed = start.byKey.keySet -- last.byKey.keySet
        if (removed.nonEmpty) throw new IllegalStateException(
          s"graft stream over $fq: non-append change removed ${removed.size} " +
            "file(s) (overwrite/compact/vacuum) — restart the stream from a " +
            "fresh checkpoint, or read with skipChangeCommits=true to " +
            "stream appends only")
        if (start.dvKeys != last.dvKeys)
          throw new IllegalStateException(
            s"graft stream over $fq: deletion vectors changed mid-stream — " +
              "already-delivered rows cannot be retracted (skipChangeCommits" +
              "=true streams appends only)")
        last.files.filterNot(f => start.byKey.contains(f.key))
      }
    // the same stats/bloom elimination the batch scan runs: a filtered
    // stream (readStream.filter ...) never schedules new files whose
    // stats prove them irrelevant. Filters translate logical→physical
    // (column mapping) before consulting the sidecars. The initial
    // snapshot applies current DV masks; later batches carry none
    // (enforced unchanged above). Hive-partitioned tables stream too:
    // each delivered file carries its path-encoded partition values.
    val mapped = skipFilters.toSeq.map(
      FilterColumns.mapAttrs(_, last.columnMapping.physicalOf))
    val inputs = FileSkipping.surviving(last, newFiles, mapped).map { f =>
      GraftSlicePlanner.FileInput(f.path, f.bytes,
        if (vs >= 0) Array.empty[Long] else f.dvRows, f.partitionValues,
        groupStarts = f.groupStarts)
    }
    // micro-batches size their tasks like the batch scan (bigs split,
    // smalls coalesce) — a catch-up batch over many tiny commit files
    // is not a task per file
    GraftSource.planSlices(inputs, splitAllowed = true)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val c = cat
    val physOf = c.version(fq)
      .map(c.snapshot(fq, _).columnMapping.physicalOf).getOrElse(Map.empty)
    new GraftReaderFactory(required, limit,
      skipFilters.map(FilterColumns.mapAttrs(_, physOf)),
      conf = GraftSource.shippedConf(), physOf = physOf)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
