package graft.connector

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{DataFile, TableCatalog}

/** CHANGE DATA FEED surfaces (Delta's `readChangeFeed` shape): the
  * per-commit row changes of a graft table as a first-class scan —
  * batch (`spark.read.format("graft").option("readChangeFeed","true")
  * .option("startingVersion", a).option("endingVersion", b)`), SQL
  * (the catalog resolves `` `t@changes(a,b)` `` identifiers), and
  * streaming (`readStream` with `readChangeFeed` — each micro-batch
  * delivers the commits' change rows, DV commits included as DELETE
  * rows, the piece `skipChangeCommits` drops).
  *
  * Output schema: the table's columns plus `_change_type`
  * ('insert' | 'delete') and `_commit_version` (int). MoR updates
  * appear as delete+insert pairs at the same version (the
  * representation row-level ops commit with).
  *
  * FULLY DISTRIBUTED: the driver walks commit METADATA only — file
  * adds become insert slices, each commit's new deletion-vector
  * entries become `keepOnly` slices over the addressed files (the
  * reader emits exactly the masked rows) — and executors stream the
  * data. No exceptAll, no snapshot diffs, cost O(changed bytes).
  * REWRITE commits serve from the `_CDCLOG/` sidecars the COW mutators
  * record at commit time (compaction's `_CDC_EMPTY` yields zero
  * rows), so the feed survives update/delete/merge/compact; only
  * overwrite/truncate (world-replacing) and pre-CDC rewrites fail
  * loudly or skip under `skipChangeCommits=true`;
  * [[TableCatalog.readChanges]] remains the net-diff fallback. */
object GraftChanges {
  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  def cdfSchema(base: StructType): StructType =
    StructType(base.fields.toSeq :+
      StructField(ChangeType, StringType, nullable = false) :+
      StructField(CommitVersion, IntegerType, nullable = false))

  /** Change slices of commits [vFrom, vTo] (both retained, walked via
    * manifest diffs — metadata-only driver work). */
  def commitSlices(cat: TableCatalog, fq: String, vFrom: Int, vTo: Int,
      skipChangeCommits: Boolean): Seq[GraftSlice] = {
    val out = Seq.newBuilder[GraftSlice]
    var v = math.max(vFrom, 0)
    while (v <= vTo) {
      // CDC-recorded commits (COW update/delete/merge, compaction's
      // empty marker) serve from the table-level `_CDCLOG/` ALONE —
      // they need neither their version dir nor its predecessor
      // retained, so the commit-time pruner retiring rewritten dirs
      // never severs the feed. skipChangeCommits keeps Delta's
      // contract (rewrite commits drop even when reconstructable).
      val cdc = cat.cdcFilesAt(fq, v)
      if (cdc.isDefined) {
        if (!skipChangeCommits) cdc.get.foreach { case (p, len) =>
          // `_change_type` is a DATA column of the sidecar file;
          // only `_commit_version` synthesizes as a constant
          out += GraftSlice(p, 0L, math.max(len, 1L), Array.empty[Long],
            Seq((CommitVersion, Some(v.toString))))
        }
      } else {
      if (!cat.versionRetained(fq, v) ||
          (v > 0 && !cat.versionRetained(fq, v - 1)))
        throw new IllegalStateException(
          s"graft change feed: $fq commit v$v (or its predecessor) was " +
            "vacuumed — change history is not reconstructable")
      val cur = cat.snapshot(fq, v)
      val prev = if (v == 0) None else Some(cat.snapshot(fq, v - 1))
      val prevFiles = prev.map(_.byKey).getOrElse(Map.empty[String, DataFile])
      val adds = cur.files.filterNot(f => prevFiles.contains(f.key))
      if (!prevFiles.keySet.subsetOf(cur.byKey.keySet)) {
        // un-recorded REWRITE: overwrite/truncate (world-replacing)
        // or a rewrite predating CDC recording
        if (!skipChangeCommits) throw new IllegalStateException(
          s"graft change feed: commit v$v of $fq rewrote file(s) " +
            "(overwrite/truncate, or a rewrite predating CDC " +
            "recording) — per-commit changes are not reconstructable; " +
            "use TableCatalog.readChanges for the net diff, or " +
            "skipChangeCommits=true to skip rewrite commits")
      } else {
        def consts(t: String) = Seq(
          (ChangeType, Some(t)), (CommitVersion, Some(v.toString)))
        // missing size ⇒ whole file (a (0,1) range holds no row-group
        // midpoint and would silently decode nothing)
        def length(f: DataFile) = if (f.bytes > 0) f.bytes else Long.MaxValue
        adds.foreach { f =>
          out += GraftSlice(f.path, 0L, length(f), Array.empty[Long],
            f.partitionValues ++ consts("insert"))
        }
        // the rows this commit masked: live files' DV rows not masked
        // at v-1 (sidecars are immutable and accumulate)
        val prevDv = prev.map(_.dvRows).getOrElse(Map.empty[String, Array[Long]])
        cur.files.foreach { f =>
          val masked = prevDv.get(f.key).map(_.toSet).getOrElse(Set.empty[Long])
          val fresh = f.dvRows.filterNot(masked)
          if (fresh.nonEmpty)
            out += GraftSlice(f.path, 0L, length(f), fresh,
              f.partitionValues ++ consts("delete"), keepOnly = true)
        }
      }
      }
      v += 1
    }
    out.result()
  }
}

/** DSv2 table exposing a graft table's change feed. */
class GraftCdfTable(baseSchema: StructType, options: Map[String, String])
    extends Table with SupportsRead {
  private def opt(k: String) = options.collectFirst {
    case (key, v) if key.equalsIgnoreCase(k) => v
  }
  override def name(): String =
    s"graft.${opt("table").getOrElse("?")}.changes"
  override def schema(): StructType = GraftChanges.cdfSchema(baseSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftCdfScan(
        opt("root").get, opt("table").get, schema(),
        startingVersion = opt("startingVersion").map(_.toInt),
        endingVersion = opt("endingVersion").map(_.toInt),
        skipChangeCommits = opt("skipChangeCommits").exists(_.toBoolean))
    }
}

class GraftCdfScan(root: String, fq: String, out: StructType,
    startingVersion: Option[Int], endingVersion: Option[Int],
    skipChangeCommits: Boolean) extends Scan {
  private def cat = new TableCatalog(SparkSession.active, root)

  override def readSchema(): StructType = out
  override def description(): String =
    s"graft changes $fq [${startingVersion.getOrElse(0)}, " +
      s"${endingVersion.map(_.toString).getOrElse("current")}]"

  override def toBatch: Batch = new Batch {
    private lazy val parts: Array[InputPartition] = {
      val c = cat
      val vTo = endingVersion.orElse(c.version(fq)).getOrElse(
        throw new IllegalArgumentException(s"graft table not found: $fq"))
      GraftChanges.commitSlices(c, fq, startingVersion.getOrElse(0), vTo,
          skipChangeCommits)
        .map(s => GraftFilesPartition(Seq(s)): InputPartition).toArray
    }
    override def planInputPartitions(): Array[InputPartition] = parts
    override def createReaderFactory(): PartitionReaderFactory = {
      val c = cat
      val physOf = c.version(fq)
        .map(c.snapshot(fq, _).columnMapping.physicalOf).getOrElse(Map.empty)
      new GraftReaderFactory(out, -1, Array.empty,
        columnar = true, GraftSource.shippedConf(), physOf)
    }
  }

  /** Streaming change feed: offsets are commit versions; batch
    * (start, end] delivers those commits' change rows — appends as
    * inserts AND DV commits as deletes (what the plain stream's
    * `skipChangeCommits` silently drops). Starts from
    * `startingVersion` when given, else from the CURRENT version
    * (only future changes stream). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftCdfMicroBatchStream(root, fq, out, startingVersion,
      skipChangeCommits)
}

class GraftCdfMicroBatchStream(root: String, fq: String, out: StructType,
    startingVersion: Option[Int], skipChangeCommits: Boolean)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def cat = new TableCatalog(SparkSession.active, root)

  private var pinned: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    pinned = Some(cat.version(fq).getOrElse(-1))

  // SupportsTriggerAvailableNow extends SupportsAdmissionControl: the
  // CDF stream takes no rate caps (commit granularity), so the limited
  // form answers like latestOffset()
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def initialOffset(): Offset =
    GraftOffset(startingVersion.map(_ - 1)
      .getOrElse(cat.version(fq).getOrElse(-1)))
  override def latestOffset(): Offset =
    pinned.map(GraftOffset(_)).getOrElse(
      GraftOffset(cat.version(fq).getOrElse(-1)))
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
    if (ve <= vs) return Array.empty
    GraftChanges.commitSlices(cat, fq, vs + 1, ve, skipChangeCommits)
      .map(s => GraftFilesPartition(Seq(s)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // row reader: the micro-batch exec path stays row-based like the
    // main graft stream (keepOnly masks work in both readers)
    val c = cat
    val physOf = c.version(fq)
      .map(c.snapshot(fq, _).columnMapping.physicalOf).getOrElse(Map.empty)
    new GraftReaderFactory(out, -1, Array.empty,
      columnar = false, GraftSource.shippedConf(), physOf)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
