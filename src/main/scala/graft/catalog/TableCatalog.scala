package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Parquet-backed table catalog keyed by `db.schema.table`, with
  * copy-on-write semantics for the operations the reference performs
  * against mutable warehouse tables: append, overwrite (drop-recreate),
  * truncate, UPDATE (flag clears), and MERGE upsert.
  *
  * Layout: `<root>/<db>/<schema>/<table>/v_<n>/part-*.parquet` plus a
  * one-line `_CURRENT` pointer file naming the live version. Writers
  * materialize a new version and then atomically swap the pointer
  * (rename), so readers never observe a half-written table and
  * concurrent readers of the old version are unaffected. Old versions
  * are pruned, keeping one back for in-flight readers.
  *
  * Appends are O(delta): the new version directory holds only the new
  * files plus a `_MANIFEST` that references the previous version's data
  * files by path (the same idea as Delta/Iceberg manifest logs) — no
  * data is copied or rewritten. Reads resolve the manifest chain into
  * one multi-path parquet scan. Rewriting operations (overwrite,
  * truncate, update, merge) materialize fresh files and start a new
  * chain, which is when old versions become prunable.
  *
  * At cluster scale every operation here is a distributed parquet
  * read/write — no driver-side row materialization. UPDATE rewrites are
  * the honest cost of flag mutation over immutable files (same
  * copy-on-write model Delta/Iceberg use); the pipeline keeps rewrites
  * proportional to the touched data by filtering on run-scoped
  * predicates rather than whole-table scans where possible.
  *
  * reference semantics: save_as_table append/overwrite
  * (SF_Notebooks/RAW_ADLS_TO_RAW_SNOWFLAKE.py:722-752), TRUNCATE
  * (:713-720), UPDATE flag clears
  * (SF_Notebooks/RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:713-724), MERGE
  * (SF_Notebooks/Rater8_Reviews.ipynb run_merge).
  */
class TableCatalog(spark: SparkSession, root: String,
    staleClaimMs: Long = 15L * 60 * 1000) {
  import TableCatalog.{SchemaAction, AddAction, RenameAction, DropAction,
    ResetAction, ConstraintAddAction, ConstraintDropAction, ActionName,
    LegacyActionName}

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[catalog] def qualified(p: Path): Path = fs.makeQualified(p)

  /** A path's key: its scheme-less qualified form, which `_STATS`,
    * `_BLOOMS`, tombstones and DV lookups all key by. */
  private[catalog] def keyOf(p: Path): String = qualified(p).toUri.getPath

  private def tableDir(fq: String): Path =
    new Path(root, fq.split('.').mkString("/"))

  private def currentPointer(fq: String) = new Path(tableDir(fq), "_CURRENT")

  private def currentVersion(fq: String): Option[Int] = {
    val p = currentPointer(fq)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt)
      finally in.close()
    }
  }

  private def versionDir(fq: String, v: Int): Path =
    new Path(tableDir(fq), f"v_$v%06d")

  def exists(fq: String): Boolean = currentVersion(fq).isDefined

  private def manifestPath(dir: Path) = new Path(dir, "_MANIFEST")

  private def writeManifest(dir: Path, referenced: Seq[Path]): Unit = {
    val out = fs.create(manifestPath(dir), true)
    try out.write(referenced.map(_.toString).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def manifestEntries(dir: Path): Seq[Path] =
    // status-keyed cache: manifests are immutable once committed, and
    // the chain-walk consumers (resolution, flatChainDirNames, the
    // commit-time pruner) re-read the SAME manifests on every commit —
    // at 10k commits that is 10k small reads per commit without this
    TableCatalog.cachedParse(fs, manifestPath(dir), "manifest") { text =>
      text.split("\n").toSeq.filter(_.nonEmpty).map(new Path(_))
    }.getOrElse(Nil)

  // ---- merge-on-read deletion vectors -------------------------------------
  // A DV version deletes rows WITHOUT rewriting any data file: the
  // version dir carries every prior data file by manifest reference and
  // adds a `_DV/` sidecar — a parquet relation of (file, row_index)
  // pairs naming the masked rows (the columnar-compressed analog of
  // Delta's roaring-bitmap DVs, addressed by the same parquet row index
  // Spark exposes as `_metadata.row_index`). Readers anti-join the mask;
  // compaction materializes it and starts a DV-free chain. At 100 TB a
  // point-delete writes O(matched rows) bytes instead of rewriting a
  // 128 MB file per touched row — the merge-on-read trade Delta/Iceberg
  // v2 make, with the read-side cost of one (usually broadcast) anti
  // join while DVs are outstanding. DV sidecars chain exactly like data
  // files: `_DVMANIFEST` carries prior DV files by reference.

  private def dvDir(dir: Path) = new Path(dir, "_DV")

  private def dvManifestPath(dir: Path) = new Path(dir, "_DVMANIFEST")

  private def writeDvManifest(dir: Path, referenced: Seq[Path]): Unit = {
    val out = fs.create(dvManifestPath(dir), true)
    try out.write(referenced.map(_.toString).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def dvManifestEntries(dir: Path): Seq[Path] =
    TableCatalog.cachedParse(fs, dvManifestPath(dir), "dvmanifest") { text =>
      text.split("\n").toSeq.filter(_.nonEmpty).map(new Path(_))
    }.getOrElse(Nil)

  /** DV parquet files visible to version v: carried references plus the
    * version's own `_DV/` sidecar files. */
  private[catalog] def dvFiles(fq: String, v: Int): Seq[Path] = {
    val dir = versionDir(fq, v)
    val own = {
      val d = dvDir(dir)
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).filter(_.isFile).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .toSeq
    }
    dvManifestEntries(dir) ++ own
  }

  /** Masked row indexes per addressed file key, over `dvs`; each
    * immutable sidecar parses once process-wide (status-keyed). */
  private[catalog] def dvPairs(dvs: Seq[Path]): Map[String, Array[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dvs.flatMap { p =>
      TableCatalog.cachedValue(fs, p, "dvpairs") {
        graft.connector.GraftParquetIO.readDvPairs(Seq(p.toString), conf)
          .groupBy { case (f, _) => new Path(f).toUri.getPath }
          .map { case (f, ps) => f -> ps.map(_._2).toArray }
      }
    }.flatten.groupBy(_._1).map { case (f, seqs) =>
      f -> seqs.flatMap(_._2).distinct.sorted.toArray
    }
  }

  /** Project the parquet scan's per-row physical address — the columns a
    * DV mask joins on. */
  private def withRowPos(df: DataFrame): DataFrame = df
    .withColumn("__fp", col("_metadata.file_path"))
    .withColumn("__ri", col("_metadata.row_index"))

  /** DV sidecar relation with its KNOWN schema requested explicitly:
    * the sidecars are written by the catalog itself as
    * (file: string, row_index: long), so schema inference — a listing
    * pass plus a one-task footer job per read — is pure overhead on
    * every masked read. */
  private def readDvMask(dvs: Seq[Path]): DataFrame =
    spark.read.schema(TableCatalog.DvSchema)
      .parquet(dvs.map(_.toString): _*)

  /** Apply DV masks to a scan carrying `__fp`/`__ri` (see
    * [[withRowPos]]): anti-join away (file, row_index) pairs. The DV
    * side is deletes-sized, so AQE plans a broadcast anti join — the
    * data side is never shuffled. No-op when `dvs` is empty.
    * `keepPos = true` retains the address columns for callers that
    * write NEW masks from the survivors. */
  private def maskDvPos(dfWithPos: DataFrame, dvs: Seq[Path],
      keepPos: Boolean = false): DataFrame =
    if (dvs.isEmpty) { if (keepPos) dfWithPos else dfWithPos.drop("__fp", "__ri") }
    else {
      val mask = readDvMask(dvs)
      val masked = dfWithPos
        .join(mask, col("__fp") === mask("file") &&
          col("__ri") === mask("row_index"), "left_anti")
      if (keepPos) masked else masked.drop("__fp", "__ri")
    }

  /** THE physical read of (a subset of) a version's data files — every
    * catalog-side file scan goes through here. `perScan` applies to
    * each file-source relation before any union (`_metadata` and
    * `input_file_name()` bind per relation).
    *
    * Every read requests the CHAIN union schema explicitly: a
    * type-widened chain (int and long files of one column) must not
    * let schema inference pick a random footer — the parquet readers
    * promote the narrow files' values into the widest type (and
    * mergeSchema's StructType.merge cannot widen at all). Also skips
    * the inference job. Flat versions read as ONE relation;
    * partitioned ones per owning version dir ([[readByOwner]]). */
  private def readPhysical(s: Snapshot, files: Seq[DataFile],
      perScan: DataFrame => DataFrame = identity): DataFrame =
    if (s.isPartitioned)
      readByOwner(s.fq, s.version, files, Some(s.physicalSchema), perScan)
    else perScan(spark.read.schema(s.physicalSchema).parquet(files.map(_.path): _*))

  /** Partitioned files carry their partition values in the paths below
    * their owning version dir, so they group by that dir and each group
    * reads with it as `basePath`. Without a `schema`, a group comes out
    * of one writing job (uniform footers), so single-footer inference
    * types it — once per (dir, file set), cached: a new version
    * re-infers only the groups it changed. The groups union by name,
    * absent columns as null and widened types at the widest — an
    * evolved layout (partition column inline in older files) resolves
    * the same way. */
  private[catalog] def readByOwner(fq: String, v: Int, files: Seq[DataFile],
      schema: Option[org.apache.spark.sql.types.StructType],
      perScan: DataFrame => DataFrame): DataFrame =
    files.groupBy(_.owner).toSeq.sortBy(_._1.toString)
      .map { case (base, group) =>
        val paths = group.map(_.path).sorted
        def reader = spark.read.option("basePath", base.toString)
        def infer = reader.parquet(paths: _*).schema
        perScan(reader.schema(schema.getOrElse(
          TableCatalog.cachedValue(fs, base, "pgroup:" + paths.mkString("\n"))(infer)
            .getOrElse(infer)))
          .parquet(paths: _*))
      }
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(spark.read.parquet(versionDir(fq, v).toString))

  /** [[readPhysical]] with the snapshot's DV masks applied. */
  private def readMasked(s: Snapshot, files: Seq[DataFile],
      keepPos: Boolean = false): DataFrame =
    maskDvPos(readPhysical(s, files, withRowPos), s.dvFiles, keepPos)

  /** Align an incoming frame's column types with the table's: an
    * incoming NARROWER numeric upcasts to the table type (the new
    * files stay as wide as the chain); an incoming WIDER numeric
    * passes through — the append WIDENS the column, and readers
    * resolve the chain union to the widest type. Any other differing
    * type rejects at WRITE time (previously it committed fine and
    * exploded as a footer conflict at read time). */
  private def alignWriteTypes(s: Snapshot, df: DataFrame): DataFrame = {
    if (s.files.isEmpty) return df
    val table = s.schema
    df.schema.fields.foldLeft(df) { (acc, f) =>
      table.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(e) if e.dataType != f.dataType =>
          TableCatalog.widerOf(e.dataType, f.dataType) match {
            case Some(w) if w == e.dataType => // narrower: upcast
              acc.withColumn(f.name, col(s"`${f.name}`").cast(e.dataType))
            case Some(_) if s.bucketSpec
                .exists(_._1.equalsIgnoreCase(f.name)) =>
              // the BUCKET SOURCE column may never widen in place:
              // murmur3 hashes int and long differently, so readers
              // hashing lookups in the widened type would stop finding
              // rows the old files routed under the narrow hash
              throw new IllegalArgumentException(
                s"append to ${s.fq}: widening bucket column ${f.name} to " +
                  s"${f.dataType.simpleString} would re-key the routing " +
                  "hash — use rebucket(...) to change the key type (a " +
                  "rewrite)")
            case Some(_) =>
              acc // wider: the chain widens on read (flat chains via
                  // the explicit union schema, hive-partitioned chains
                  // via per-version-group reads — each version dir is
                  // written in one shot, so groups are uniform and the
                  // cross-group union resolves to the widest type)
            case None => throw new IllegalArgumentException(
              s"append to ${s.fq}: column ${f.name} " +
                s"(${f.dataType.simpleString}) neither matches nor widens " +
                s"the table's ${e.dataType.simpleString} — narrowing and " +
                "incompatible type changes are rejected")
          }
        case _ => acc
      }
    }
  }

  // ---- hive-partitioned layout support ------------------------------------
  // A partitioned version records its partition columns in _PARTITIONS
  // and writes its own files under `col=value/` dirs. Its chain is the
  // flat one (back-reference, tombstones, checkpoints — see
  // [[resolvedFlatFiles]]); partition values are read back from each
  // file's path below its owning version dir.

  private def partitionsPath(dir: Path) = new Path(dir, "_PARTITIONS")

  /** Record a layout; no-op for a flat one. */
  private def writePartitions(dir: Path, cols: Seq[String]): Unit =
    if (cols.nonEmpty) {
      val out = fs.create(partitionsPath(dir), true)
      try out.write(cols.mkString(",").getBytes("UTF-8")) finally out.close()
    }

  private[catalog] def partitionColsOf(fq: String, v: Int): Seq[String] =
    TableCatalog.cachedParse(fs, partitionsPath(versionDir(fq, v)), "partitions") {
      text => text.split(",").toSeq.filter(_.nonEmpty)
    }.getOrElse(Nil)

  /** The version directory that owns a data file (the nearest
    * `v_NNNNNN` ancestor) — where its `_STATS`/`_BLOOMS` entries live,
    * and the `basePath` partition discovery reads its
    * `col=value/...` suffix against. */
  private[catalog] def versionAncestor(p: Path): Path = {
    var cur = p
    while (cur != null && !cur.getName.matches("v_\\d{6}")) cur = cur.getParent
    Option(cur).getOrElse(p)
  }

  private def listFilesRecursive(dir: Path): Seq[Path] =
    // skip metadata files AND files under metadata dirs (`_DV/` holds
    // parquet whose own names don't start with '_')
    TableCatalog.listAllFilesFast(fs, dir).filter(p =>
      !p.getName.startsWith("_") && !p.getName.startsWith(".") &&
        !p.getParent.getName.startsWith("_"))

  // ---- per-file min/max data skipping -------------------------------------
  // Every commit harvests the parquet FOOTER min/max of the files it
  // wrote into a `_STATS` sidecar (footer-only IO, O(new files), the
  // Delta "stats in the commit log" write-path step — carried files
  // keep the stats of the version that wrote them). [[readBetween]]
  // then skips whole non-overlapping files BEFORE planning: a selective
  // range predicate over a huge un-partitioned table opens only the
  // files whose [min,max] can match, instead of scheduling a task per
  // file just to discard its row groups. Composes with the Z-order
  // layout of [[compactZOrder]], which is what makes file ranges tight.
  // Stats are advisory — a missing/failed `_STATS` only disables
  // skipping for that version's files, never correctness.

  private def statsPath(dir: Path) = new Path(dir, "_STATS")

  /** Harvest per-file per-column [min,max] from parquet footers of the
    * files this version wrote, for numeric physical types whose stats
    * are exactly ordered (int32/int64/float/double + micros
    * timestamps; decimals excluded). Values serialize as exact
    * BigDecimal strings.
    *
    * STRING columns harvest too, with TRUNCATION-SAFE bounds (the
    * Iceberg lower/upper-bound trick): lower = first 16 UTF-8 bytes of
    * the min (a prefix always compares ≤ the full string in unsigned
    * byte order — Spark's string order), upper = first 16 bytes of the
    * max with the last non-0xFF byte incremented (the successor of the
    * prefix, ≥ every string carrying it; all-0xFF ⇒ unbounded). So a
    * range or prefix predicate over e.g. an ID-prefixed key skips
    * whole files from sidecar bytes, and the sidecar stays O(16 bytes)
    * per column however long the keys are. Serialized as
    * `s:`-prefixed base64 lines next to the numeric entries.
    *
    * The footers in hand also settle two things: a flat write's
    * ZERO-ROW part files (Spark's writer always writes partition 0,
    * empty or not) are deleted when the same write left a file with
    * rows — with no bounds and no rows, nothing would ever prune,
    * probe away or rewrite them; an all-empty write keeps one, the
    * schema carrier of a new or emptied table — and every kept file's
    * Spark schema seeds the [[footerSchemaOf]] cache, so the next read
    * does not open the footer again. */
  private def harvestStats(dir: Path): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    if (!fs.exists(dir)) return
    val conf = spark.sparkContext.hadoopConfiguration
    val b64 = java.util.Base64.getEncoder
    // footer reads are independent per file and IO-bound — fan out on
    // the driver (bounded pool, order-preserving) instead of reading
    // the commit's footers one by one; a 64-file commit harvests in
    // one round-trip's wall clock instead of 64
    val harvested = graft.util.Concurrent.forEach(
        listFilesRecursive(dir).sortBy(_.toString), parallelism = 8) { f =>
      val key = keyOf(f)
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (BigDecimal, BigDecimal)]
      val sacc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Array[Byte], Array[Byte])] // raw min/max bytes
      // per-ROW-GROUP bounds of multi-group files: `g:`/`gs:` lines
      // keyed by the group's byte range, so slice planning can drop
      // non-matching ranges INSIDE a big file (a sorted 10 GB file
      // must not scan every byte for a point-range predicate)
      val rgLines = scala.collection.mutable.ArrayBuffer.empty[String]
      // columns where ANY chunk's statistics were OMITTED by the
      // writer (parquet-mr drops chunk stats when min+max exceed
      // 4 KB): their accumulated file bounds would silently exclude
      // that chunk's values, so the column must publish NO file-level
      // bounds at all. All-NULL chunks (numNulls set, no values) are
      // NOT poisonous: nulls can never satisfy the range/equality
      // conjuncts these bounds eliminate on.
      val poisoned = scala.collection.mutable.Set.empty[String]
      var nBlocks = 0
      var nRows = 0L
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val schema = try {
        nBlocks = rd.getFooter.getBlocks.size()
        rd.getFooter.getBlocks.forEach { blk =>
          val rgAcc = scala.collection.mutable.LinkedHashMap
            .empty[String, (BigDecimal, BigDecimal)]
          val rgSacc = scala.collection.mutable.LinkedHashMap
            .empty[String, (Array[Byte], Array[Byte])]
          blk.getColumns.forEach { cc =>
            val pt = cc.getPrimitiveType
            val ann = pt.getLogicalTypeAnnotation
            val ordered = pt.getPrimitiveTypeName match {
              case INT32 | INT64 => ann == null ||
                ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] ||
                ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] ||
                // micros timestamps (LTZ and NTZ) are exactly ordered
                // int64s — the catalog writes TIMESTAMP_MICROS (see
                // withMicrosTimestamps), so time-range predicates get
                // the same file skipping as numeric keys. Other units
                // stay excluded (values are normalized to micros).
                (ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
                  ann.asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
                    .getUnit == LogicalTypeAnnotation.TimeUnit.MICROS)
              case FLOAT | DOUBLE => true
              case _ => false
            }
            val isString = pt.getPrimitiveTypeName == BINARY &&
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            val st = cc.getStatistics
            if ((ordered || isString) && (st == null || st.isEmpty))
              poisoned += cc.getPath.toDotString
            if (st != null && st.hasNonNullValue) {
              val name = cc.getPath.toDotString
              if (ordered) {
                val mn = BigDecimal(st.genericGetMin.toString)
                val mx = BigDecimal(st.genericGetMax.toString)
                acc.get(name) match {
                  case Some((a, b)) => acc(name) = (a.min(mn), b.max(mx))
                  case None => acc(name) = (mn, mx)
                }
                rgAcc(name) = (mn, mx)
              } else if (isString) {
                // parquet string stats order UNSIGNED lexicographic =
                // UTF8String order; accumulate raw, truncate at write
                val mn = st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                val mx = st.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                sacc.get(name) match {
                  case Some((a, b)) => sacc(name) = (
                    if (TableCatalog.compareBytes(mn, a) < 0) mn else a,
                    if (TableCatalog.compareBytes(mx, b) > 0) mx else b)
                  case None => sacc(name) = (mn, mx)
                }
                rgSacc(name) = (mn, mx)
              }
            }
          }
          // one `g:`/`gs:` line per (row group, column), byte-range
          // keyed: `g:<start>:<len>:<col>` — emitted only for
          // multi-group files (a single group IS the file)
          val start = blk.getStartingPos
          val len = blk.getCompressedSize
          // unconditional per-group marker (row count): makes EVERY
          // block representable even when none of its chunks carry
          // parquet stats (parquet-mr omits chunk statistics for
          // multi-KB min/max values) — a stats-less group must parse
          // as bound-free (always kept), not vanish from the map and
          // get its bytes silently pruned. rowGroupRanges requires
          // this marker on every group before it prunes at all.
          rgLines += s"$key\tg:$start:$len:__rows\t${blk.getRowCount}\t${blk.getRowCount}"
          rgLines ++= rgAcc.map { case (c, (mn, mx)) =>
            s"$key\tg:$start:$len:$c\t$mn\t$mx" }
          rgLines ++= rgSacc.map { case (c, (mn, mx)) =>
            val lo = b64.encodeToString(TableCatalog.truncLower(mn))
            val hi = TableCatalog.truncUpper(mx)
              .map(b64.encodeToString).getOrElse("*")
            s"$key\tgs:$start:$len:$c\t$lo\t$hi"
          }
        }
        // pseudo-column: the file's exact row count (powers fastCount)
        nRows = rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        acc("__rows") = (BigDecimal(nRows), BigDecimal(nRows))
        sparkSchemaOf(rd.getFooter.getFileMetaData.getSchema)
      } finally rd.close()
      // per-GROUP lines for a poisoned column stay: each group's own
      // chunk stats (where present) bound that group's values exactly;
      // the group whose stats were omitted simply has no line and
      // parses bound-free (kept) via its `__rows` marker.
      (f, nRows, schema, acc.toSeq.filterNot(e => poisoned(e._1))
        .map { case (c, (mn, mx)) => s"$key\t$c\t$mn\t$mx" } ++
        sacc.toSeq.filterNot(e => poisoned(e._1))
        .map { case (c, (mn, mx)) =>
          val lo = b64.encodeToString(TableCatalog.truncLower(mn))
          val hi = TableCatalog.truncUpper(mx)
            .map(b64.encodeToString).getOrElse("*") // * = unbounded
          s"$key\ts:$c\t$lo\t$hi"
        } ++
        (if (nBlocks > 1) rgLines.toSeq else Nil))
    }
    val emptyFlat = harvested.collect {
      case (f, 0L, _, _) if fs.makeQualified(f.getParent) == fs.makeQualified(dir) => f
    }
    val dropped = (if (harvested.exists(_._2 > 0)) emptyFlat
      else emptyFlat.drop(1)).toSet
    dropped.foreach(fs.delete(_, false))
    val kept = harvested.filterNot(h => dropped(h._1))
    kept.foreach { case (f, _, schema, _) =>
      TableCatalog.cachedPut(fs, f, "footer", schema) }
    val lines = kept.flatMap(_._4)
    if (lines.nonEmpty) {
      val out = fs.create(statsPath(dir), true)
      try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
    }
  }

  /** (mtime, length) of version dir `dir`'s `_STATS`, None if absent. */
  private[catalog] def statsStatus(dir: Path): Option[(Long, Long)] = {
    val p = statsPath(dir)
    if (!fs.exists(p)) None
    else Some(fs.getFileStatus(p)).map(st => (st.getModificationTime, st.getLen))
  }

  /** Version dir `dir`'s `_STATS` sidecar, parsed once per sidecar
    * status: per file key, its numeric bounds (with the `__rows`
    * pseudo-column), its truncation-safe string bounds (`s:` lines;
    * upper None = unbounded) and the row-group bounds of a multi-group
    * file (`g:`/`gs:` lines, keyed by the group's byte range). */
  private[catalog] def statsOf(dir: Path): Map[String, TableCatalog.FileStats] =
    TableCatalog.cachedParse(fs, statsPath(dir), "stats") { text =>
      import TableCatalog.RowGroupStat
      val b64 = java.util.Base64.getDecoder
      def sb(mn: String, mx: String) =
        (b64.decode(mn), if (mx == "*") None else Some(b64.decode(mx)))
      text.split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", 4))
        .groupBy(_(0)).map { case (f, lines) =>
          val groups = scala.collection.mutable.LinkedHashMap
            .empty[(Long, Long), RowGroupStat]
          def group(spec: String)(add: (RowGroupStat, String) => RowGroupStat) = {
            val Array(st, len, c) = spec.split(":", 3): @unchecked
            val k = (st.toLong, len.toLong)
            groups(k) = add(groups.getOrElse(k, RowGroupStat(k._1, k._2, Map.empty, Map.empty)), c)
          }
          val numeric = Map.newBuilder[String, (BigDecimal, BigDecimal)]
          val strings = Map.newBuilder[String, (Array[Byte], Option[Array[Byte]])]
          lines.foreach { case Array(_, c, mn, mx) =>
            if (c.startsWith("g:")) group(c.stripPrefix("g:"))((g, cn) =>
              g.copy(numeric = g.numeric + (cn -> ((BigDecimal(mn), BigDecimal(mx))))))
            else if (c.startsWith("gs:")) group(c.stripPrefix("gs:"))((g, cn) =>
              g.copy(strings = g.strings + (cn -> sb(mn, mx))))
            else if (c.startsWith("s:")) strings += c.stripPrefix("s:") -> sb(mn, mx)
            else numeric += c -> ((BigDecimal(mn), BigDecimal(mx)))
          }
          f -> TableCatalog.FileStats(numeric.result(), strings.result(),
            groups.values.toSeq.sortBy(_.start))
        }
    }.getOrElse(Map.empty)

  /** Range read with manifest-stats file skipping: only files whose
    * recorded [min,max] (numeric or truncation-safe string) for
    * `column` can overlap [lo, hi] are opened (files without stats are
    * read — safe default), the residual predicate still applies
    * row-level, and DV masks still apply. The returned plan's
    * `inputFiles` is the skipping evidence. */
  def readBetween(fq: String, column: String, lo: Any, hi: Any): DataFrame =
    readPruned(fq, column, col(column) >= lit(lo) && col(column) <= lit(hi),
      phys => Seq(GreaterThanOrEqual(phys, lo), LessThanOrEqual(phys, hi)))

  /** Point-lookup read with stats and bloom file skipping: open only
    * the files whose bounds and bloom POSSIBLY contain `value` (no
    * entry ⇒ read — safe default), then apply DV masks and the
    * row-level predicate. The returned plan's `inputFiles` is the
    * skipping evidence; expected files opened ≈ true hits + FPR ·
    * (files without the key). */
  def readPoint(fq: String, column: String, value: Any): DataFrame =
    readPruned(fq, column, col(column) === lit(value),
      phys => Seq(EqualTo(phys, value)))

  /** Rows of the live version matching `pred` on `column`, reading
    * only the files [[graft.connector.FileSkipping.prune]] keeps for
    * `filters` (built on the column's PHYSICAL name — the sidecars'
    * key). A partition column goes through the connector scan, whose
    * partition pruning answers exactly. */
  private def readPruned(fq: String, column: String, pred: Column,
      filters: String => Seq[org.apache.spark.sql.sources.Filter]): DataFrame = {
    val s = snapshot(fq)
    val m = s.columnMapping
    if (s.partitionColumns.contains(column))
      return readPartitionedChain(fq, s.version).filter(pred)
    if (s.files.isEmpty)
      return toLogical(spark.read.parquet(versionDir(fq, s.version).toString), m)
        .filter(pred)
    val surviving = s.inChainOrder(
      graft.connector.FileSkipping.prune(s, filters(m.physical(column))))
    if (surviving.isEmpty) read(fq).filter(pred).limit(0)
    else dropRouting(toLogical(readMasked(s, surviving), m)).filter(pred)
  }

  /** METADATA-ONLY `COUNT(*)` of the live version: the sum of the
    * per-file row counts recorded in `_STATS` at commit time, minus
    * outstanding deletion-vector rows that address live files — zero
    * Spark jobs, zero data IO, O(chain versions) driver reads. On a
    * 100 TB table this answers in milliseconds what a scan-based count
    * schedules thousands of tasks for (the Delta "compute from the
    * transaction log" fast path). Returns None when any chain file
    * predates stats harvesting — callers fall back to [[count]], which
    * stays the correctness baseline. */
  def fastCount(fq: String): Option[Long] = {
    val s = snapshot(fq)
    val rows = s.files.map(_.rows)
    if (rows.exists(_.isEmpty)) None
    else Some(rows.flatten.sum - s.files.map(_.dvRows.length.toLong).sum)
  }

  // ---- O(delta) chain commit metadata -------------------------------------
  // A commit's `_MANIFEST` may reference the
  // PRIOR VERSION DIRECTORY instead of relisting every live file: one
  // line per commit, however many files the table holds — without
  // this, every streaming epoch into a 100 TB table rewrites ~100 MB
  // of manifest (the O(live-files) metadata trap; Delta bounds it the
  // same way with delta log entries). Resolution walks the reference
  // chain: R(v) = (R(ref) ∪ fileEntries(v)) \ tombstones(v) ∪ own(v),
  // where `_TOMBSTONES` lists the files a copy-on-write rewrite
  // retired (O(touched), Delta's remove actions). Legacy manifests
  // (explicit file lists) resolve unchanged; each version's resolved
  // set caches process-wide against its immutable manifest.

  private def tombstonesPath(dir: Path) = new Path(dir, "_TOMBSTONES")

  private def writeTombstones(dir: Path, retired: Seq[DataFile]): Unit = {
    val out = fs.create(tombstonesPath(dir), true)
    try out.write(retired.map(_.key).mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def tombstonesOf(dir: Path): Set[String] =
    TableCatalog.cachedParse(fs, tombstonesPath(dir), "tombs") { text =>
      text.split("\n").toSet.filter(_.nonEmpty)
    }.getOrElse(Set.empty)

  /** Every Nth flat commit writes an EXPLICIT file-list manifest (a
    * checkpoint — Delta's log-checkpoint shape) instead of the O(1)
    * back-reference. Cold resolution, `flatChainDirNames`, and prune
    * then walk O(interval) versions, not O(all versions since the
    * chain base) — and version dirs whose files are all tombstoned
    * BEFORE the checkpoint drop off the reference chain entirely, so
    * vacuum can reclaim them. Tunable per session; <= 0 disables. */
  private def flatCheckpointInterval: Int =
    try spark.conf.get("graft.flatCheckpointInterval", "16").toInt
    catch { case _: NumberFormatException => 16 }

  /** Flat-chain manifest write for a commit based on version `prev`:
    * normally one back-reference line (+ `_TOMBSTONES` for the files
    * a copy-on-write rewrite retired); on a checkpoint version the
    * full resolved file list with the retirees excluded inline
    * (explicit manifests apply no tombstones — see
    * [[resolvedFlatFiles]]'s fold, which filters only deeper levels). */
  private def writeFlatRef(prev: Snapshot, dir: Path,
      retired: Seq[DataFile]): Unit = {
    val vNum = dir.getName.stripPrefix("v_").toInt
    val interval = flatCheckpointInterval
    val ref = versionDir(prev.fq, prev.version)
    if (interval > 0 && vNum > 0 && vNum % interval == 0) {
      val gone = retired.map(_.key).toSet
      val explicit = prev.chain.filterNot(f => gone(f.key)).map(f => new Path(f.path))
      // ref line + explicit list: RESOLUTION and vacuum's chain walk
      // stop here (the list is authoritative), while the commit-time
      // pruner still walks the ref — history dirs stay time-travelable
      // until an explicit vacuum reclaims them
      writeManifest(dir, ref +: explicit)
    } else {
      writeManifest(dir, Seq(ref))
      if (retired.nonEmpty) writeTombstones(dir, retired)
    }
  }

  /** Is this manifest entry a version-directory reference of THIS
    * table (vs a plain data-file path)? */
  private def dirRefVersion(fq: String, e: Path): Option[Int] =
    if (e.getName.matches("v_\\d{6}") &&
        keyOf(e.getParent) == keyOf(tableDir(fq)))
      Some(e.getName.stripPrefix("v_").toInt)
    else None

  /** Iteratively resolve a version's data-file set (a deep chain
    * must not recurse the stack), caching each level against its
    * immutable manifest. A version's own files are its data files at
    * any depth below `col=value/` dirs; `_`- and `.`-prefixed entries
    * (sidecars, `_DV/`) are skipped, so a flat version dir costs one
    * listing. */
  private[catalog] def resolvedFlatFiles(fq: String, v: Int): Seq[Path] = {
    def cached(ver: Int): Option[Seq[Path]] =
      TableCatalog.cachedPeek[Seq[Path]](fs,
        manifestPath(versionDir(fq, ver)), "flatResolved")
    def ownOf(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .flatMap(st => if (st.isDirectory) ownOf(st.getPath) else Seq(st.getPath))
    // walk references down until a cached level (or the chain base)
    var levels = List.empty[(Int, Seq[Path], Set[String])]
    var base: Seq[Path] = Nil
    var cur = v
    var walking = true
    while (walking) {
      cached(cur) match {
        case Some(files) => base = files; walking = false
        case None =>
          val dir = versionDir(fq, cur)
          val entries = manifestEntries(dir)
          val (refs, fileEntries) =
            entries.partition(e => dirRefVersion(fq, e).isDefined)
          levels = (cur, ownOf(dir) ++ fileEntries, tombstonesOf(dir)) :: levels
          // ref + file entries together = a CHECKPOINT: the explicit
          // list is authoritative (already resolved through the ref),
          // so resolution stops — the ref line exists for the
          // commit-time pruner's history walk only
          refs.headOption.flatMap(dirRefVersion(fq, _)) match {
            case Some(prev) if fileEntries.isEmpty => cur = prev
            case _ => walking = false
          }
      }
    }
    // fold back up, caching each fully-resolved level
    var files = base
    levels.foreach { case (ver, adds, tombs) =>
      files =
        (if (tombs.isEmpty) files
         else files.filterNot(p => tombs(keyOf(p)))) ++
          adds
      TableCatalog.cachedPut(fs, manifestPath(versionDir(fq, ver)),
        "flatResolved", files)
    }
    files
  }

  /** Version-dir names on v's reference chain (v included) — the
    * dirs a pruner must RETAIN even when they hold no data files of
    * their own: breaking one reference link breaks every later
    * version's resolution.
    *
    * `stopAtCheckpoints`: a checkpoint manifest (ref line + explicit
    * file list) ends resolution, but its ref line still records the
    * commit HISTORY. The commit-time pruner walks through checkpoints
    * (history dirs stay time-travelable between vacuums); an explicit
    * [[vacuum]] stops at them — that's what lets it reclaim
    * fully-tombstoned pre-checkpoint dirs under its keepVersions
    * contract. */
  private def flatChainDirNames(fq: String, v: Int,
      stopAtCheckpoints: Boolean = false): Set[String] = {
    val names = scala.collection.mutable.Set.empty[String]
    var cur = Some(v): Option[Int]
    while (cur.isDefined) {
      val dir = versionDir(fq, cur.get)
      names += dir.getName
      cur =
        if (!fs.exists(dir)) None
        else {
          val entries = manifestEntries(dir)
          val (refs, fileEntries) =
            entries.partition(e => dirRefVersion(fq, e).isDefined)
          if (stopAtCheckpoints && refs.nonEmpty && fileEntries.nonEmpty)
            None // checkpoint: resolution needs nothing deeper
          else refs.flatMap(dirRefVersion(fq, _)).headOption
        }
    }
    names.toSet
  }

  /** Partitioned chain read WITH the version's DV masks applied —
    * routed through the DSv2 connector scan: ONE scan node plans
    * per-file from commit metadata (partition values recovered per
    * file — mixed evolved layouts included — DV masks applied inside
    * the reader, vectorized decode, filter pushdown → partition/stats
    * /bloom file pruning). The plan's scan-node count is CONSTANT in
    * chain length, where a per-owning-version relation union grows
    * O(versions). */
  private def readPartitionedChain(fq: String, v: Int): DataFrame =
    spark.read.format("graft")
      .option("root", root).option("table", fq)
      .option("version", v.toString).load()

  def read(fq: String): DataFrame = readVersion(fq, currentVersion(fq).getOrElse(
    throw new IllegalArgumentException(s"table not found: $fq")))

  def readIfExists(fq: String): Option[DataFrame] =
    currentVersion(fq).map(_ => read(fq))

  /** Time travel: read a specific committed version, if its files are
    * still on disk (the pruner keeps current and current−1; older
    * versions survive only while referenced by a live manifest chain).
    * Version numbers are the monotonically increasing commit sequence —
    * the same contract as Delta's VERSION AS OF. */
  def readVersion(fq: String, version: Int): DataFrame = {
    val s = snapshot(fq, version)
    if (s.isPartitioned) // connector scan: mapping + declared
      return readPartitionedChain(fq, version) // columns applied there
    // VERSION-SCOPED mapping: time travel sees the column names (and
    // declared columns) of its day, not today's
    val m = s.columnMapping
    val df0 =
      if (s.chain.isEmpty) // truncated table: schema-only marker dir
        spark.read.parquet(versionDir(fq, version).toString)
      else readMasked(s, s.chain) // chain-union schema: covers
        // evolved (declared-column) AND type-widened heterogeneity;
        // each version sees ITS masks
    // dropped columns hidden, renamed columns exposed logically,
    // declared columns no file carries yet read as typed nulls
    withDeclared(toLogical(df0, m), m)
  }

  /** The live committed version number (None = table absent). */
  def version(fq: String): Option[Int] = currentVersion(fq)

  /** THE per-version metadata of `fq` at committed version `v`, one
    * value per version process-wide: memoized against the version
    * dir's status (path, mtime, length), so a table dropped and
    * re-created under the same name and version numbers never reads
    * its predecessor's snapshot; a hit whose owning dirs' `_STATS`
    * changed since it read them is rebuilt. See [[Snapshot]]. */
  def snapshot(fq: String, v: Int): Snapshot = {
    val dir = versionDir(fq, v)
    TableCatalog.cachedValue(fs, dir, "snapshot")(new Snapshot(this, fq, v)) match {
      case Some(s) if s.current => s
      case Some(_) =>
        val s = new Snapshot(this, fq, v)
        TableCatalog.cachedPut(fs, dir, "snapshot", s)
        s
      case None =>
        throw new IllegalArgumentException(s"$fq version $v not retained")
    }
  }

  /** The snapshot of the live version. */
  def snapshot(fq: String): Snapshot = snapshot(fq,
    currentVersion(fq).getOrElse(
      throw new IllegalArgumentException(s"table not found: $fq")))

  /** Append rows whose schema may add columns relative to the table:
    * the read side resolves the union schema (absent columns read as
    * null). Opt-in — evolving reads resolve one footer per chain
    * version at planning time, so the default `read` path stays
    * fixed-schema. */
  def appendEvolving(fq: String, df: DataFrame): Unit = append(fq, df)

  /** Read resolving the union of all file schemas in the chain
    * (for tables grown via [[appendEvolving]]). */
  def readMergedSchema(fq: String): DataFrame = {
    val s = snapshot(fq)
    if (s.chain.isEmpty) spark.read.parquet(versionDir(fq, s.version).toString)
    else dropRouting(toLogical(readMasked(s, s.chain), s.columnMapping))
  }

  def count(fq: String): Long =
    readIfExists(fq).map(_.count()).getOrElse(0L)

  private def claimPath(fq: String, v: Int) =
    new Path(tableDir(fq), f"_COMMIT_$v%06d")

  /** The live version, -1 when the table is absent. */
  private def headOf(fq: String): Int = currentVersion(fq).getOrElse(-1)

  /** The live version's snapshot, None when the table is absent — the
    * `base` of a commit that reads nothing. */
  private def liveSnapshot(fq: String): Option[Snapshot] =
    currentVersion(fq).map(snapshot(fq, _))

  /** Every catalog write goes out as TIMESTAMP_MICROS int64, not
    * Spark's default INT96: INT96 is deprecated AND stat-less (parquet
    * writers emit no usable min/max for it), which would exclude
    * timestamp columns — the most common 100 TB range predicate — from
    * `_STATS` file skipping. The setting is held per session, counted
    * over the writes in flight on it ([[TableCatalog.holdMicros]]): the
    * first sets it, the last restores the session's own value, so
    * concurrent writes through one session never see it restored under
    * them. */
  private def withMicrosTimestamps[T](body: => T): T = {
    TableCatalog.holdMicros(spark)
    try body finally TableCatalog.releaseMicros(spark)
  }

  /** THE commit protocol — every catalog write goes through here.
    * `base` is the snapshot the operation read (None = table absent).
    * `write(dir, head)` materializes version head+1 into `dir`
    * against snapshot `head` (None = table absent): `base` itself, or
    * the winner's snapshot after a rebase — resolved here once, so
    * neither the write nor the pruner looks the version up again.
    * This function alone claims the version, checks it, clears a
    * crashed attempt's debris, harvests stats, swaps the pointer and
    * prunes.
    *
    * Snapshot conflicts: if any other writer committed since the caller
    * read `base`, this commit would carry a stale manifest (lost
    * update) or stage DV addresses into files a concurrent rewrite
    * already retired. Two layers catch it: the version check catches a
    * committed racer, the atomic create-exclusive claim marker
    * serializes in-flight racers (the loser errors instead of
    * overwriting the winner's pointer); the check re-runs UNDER the
    * claim because a racer may commit-and-release between our first
    * check and our claim. A claim left by a crashed writer goes stale
    * after `staleClaimMs` and is swept here. What a conflict does
    * depends on `rebaseIf`:
    *  - `None`: FAIL with ConcurrentModificationException
    *    (Delta/Iceberg's optimistic-concurrency abort); the caller
    *    re-runs its whole operation against the winner's snapshot.
    *  - `Some((readFiles, readDvs))`: Delta-style conflict RESOLUTION
    *    for commuting pairs — if every data file in `readFiles` (the
    *    files the operation's already-computed OUTPUT depends on) is
    *    still live, the layout is unchanged, and no NEW deletion-vector
    *    sidecar addresses any of them, the operation commutes with the
    *    winner and REBASES: `write` re-runs against the advanced head,
    *    recomputing only the carried manifests — the expensive
    *    distributed output is reused. Genuine conflicts (the winner
    *    rewrote or newly masked a read file) abort as above. Without
    *    this, maintenance commits (compact / z-order / DV mutations)
    *    STARVE under a continuous append stream. `Some((Nil, Nil))`
    *    (blind append) rebases unconditionally; a claim held in flight
    *    is waited out. */
  private[graft] def commit(fq: String, base: Option[Snapshot],
      rebaseIf: Option[(Seq[Path], Seq[Path])])(
      write: (Path, Option[Snapshot]) => Unit): Unit = {
    val readSet = rebaseIf.toSeq.flatMap(_._1).map(keyOf).toSet
    val knownDvs = rebaseIf.toSeq.flatMap(_._2).map(keyOf).toSet
    val basePcols =
      if (readSet.isEmpty) Nil else base.map(_.partitionColumns).getOrElse(Nil)
    var headSnap = base
    var attempts = 0
    while (true) {
      val head = headSnap.map(_.version).getOrElse(-1)
      def conflict(cur: Int) = new java.util.ConcurrentModificationException(
        s"$fq advanced to v$cur since this operation read v$head — " +
          "rerun the operation against the current version")
      val next = head + 1
      val dir = versionDir(fq, next)
      val claim = claimPath(fq, next)
      try {
        val cur0 = headOf(fq)
        if (cur0 != head) throw conflict(cur0)
        fs.mkdirs(tableDir(fq))
        if (fs.exists(claim) && System.currentTimeMillis() -
            fs.getFileStatus(claim).getModificationTime > staleClaimMs) {
          // sweep a crashed writer's claim by ATOMIC RENAME to a unique
          // tombstone: at most one sweeper wins the rename; losers fall
          // through to the (atomic) create race below. A delete-then-
          // create sweep could remove the FIRST sweeper's freshly
          // recreated claim and let two writers commit the same version
          // (lost update).
          val tomb = new Path(tableDir(fq),
            s"_SWEPT_${java.util.UUID.randomUUID()}")
          try { if (fs.rename(claim, tomb)) fs.delete(tomb, false) }
          catch { case _: java.io.IOException => () }
        }
        // the claim create must be ATOMIC check-and-create: HDFS/object
        // stores give that via create(overwrite=false), but Hadoop's
        // local filesystem implements it as a non-atomic
        // exists()-then-create — two in-process racers could BOTH win
        // and corrupt the commit. File.createNewFile is the local atomic
        // primitive.
        val claimed =
          try {
            if (fs.getUri.getScheme == "file")
              new java.io.File(fs.makeQualified(claim).toUri.getPath)
                .createNewFile()
            else { fs.create(claim, false).close(); true }
          } catch { case _: java.io.IOException => false }
        if (!claimed) throw new java.util.ConcurrentModificationException(
          s"concurrent commit in flight for $fq v$next — rerun the operation")
        // ownership tag: write our UUID into the claim and verify it
        // reads back — belt-and-braces against the residual sweep race
        // (a slow second sweeper renaming OUR fresh claim away and
        // recreating); re-verified immediately before the pointer swap
        val writerId = java.util.UUID.randomUUID().toString
        def ownsClaim(): Boolean =
          try {
            val in = fs.open(claim)
            val tag = try new String(
              org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
            finally in.close()
            tag == writerId
          } catch { case _: java.io.IOException => false }
        def verifyOwner(when: String): Unit =
          if (!ownsClaim()) throw new java.util.ConcurrentModificationException(
            s"commit claim for $fq v$next stolen $when — rerun the operation")
        try {
          val out = fs.create(claim, true)
          try out.write(writerId.getBytes("UTF-8")) finally out.close()
          verifyOwner("by a concurrent sweeper")
          val cur1 = headOf(fq)
          if (cur1 != head) throw conflict(cur1)
          // crash recovery: a commit that died after writing data but
          // before the pointer swap leaves a partial v_next dir the
          // pointer never referenced — clear it, or this commit would
          // fail on the existing path (or silently absorb the orphan's
          // files into its manifest). The crashed attempt's CDC log
          // entry must clear too, or a different operation re-committing
          // this version number would serve the ORPHAN's change rows to
          // the feed.
          if (fs.exists(dir)) fs.delete(dir, true)
          val staleCdc = new Path(cdcLogDir(fq), dir.getName)
          if (fs.exists(staleCdc)) fs.delete(staleCdc, true)
          val staleCdcEmpty = new Path(cdcLogDir(fq), s"${dir.getName}._EMPTY")
          if (fs.exists(staleCdcEmpty)) fs.delete(staleCdcEmpty, false)
          // ... and the crashed attempt's `_SCHEMAS` action files: a died
          // ALTER wrote `v{next}_*` actions the pointer never referenced
          // — left in place they'd apply to whatever unrelated commit
          // reuses this version number (an orphan `reset` would wipe
          // the mapping).
          val staleSchemas = schemasDir(fq)
          if (fs.exists(staleSchemas))
            fs.listStatus(staleSchemas).map(_.getPath)
              .filter(_.getName.startsWith(f"v$next%06d_"))
              .foreach(fs.delete(_, false))
          withMicrosTimestamps { write(dir, headSnap) }
          try harvestStats(dir) catch { case _: Exception => () } // advisory
          verifyOwner("before pointer swap")
          val tmp = new Path(tableDir(fq), s"_CURRENT.tmp$next")
          val out2 = fs.create(tmp, true)
          try out2.write(next.toString.getBytes("UTF-8")) finally out2.close()
          if (fs.exists(currentPointer(fq))) fs.delete(currentPointer(fq), false)
          if (!fs.rename(tmp, currentPointer(fq)))
            throw new IllegalStateException(s"failed to commit $fq v$next")
          // prune old versions (keeping one back for in-flight readers)
          // — but NEVER a directory holding data referenced by the new
          // version's manifest chain, nor by the kept-back previous
          // version's. Ancestor-prefix check: partitioned chains nest
          // data under partition subdirectories of old version dirs.
          val kept = snapshot(fq, next) +: headSnap.toSeq
          val liveFiles = kept
            .flatMap(k => k.files.map(_.path) ++ k.dvFiles.map(_.toString)).toSet
          // flat dir-reference chains: every LINK dir must survive, even
          // one holding no data files of its own (a metadata commit) —
          // deleting it would break every later version's resolution
          val linkDirs = kept.flatMap(k => flatChainDirNames(fq, k.version)).toSet
          // one listing of the table dir (not an existence probe per
          // historic version number — O(live dirs) however long the
          // commit history). A retired dir must also be OLDER than the
          // reclamation grace before the commit-path pruner may delete
          // it: a reader pinned more than one version back — a
          // multi-hour job planned two commits ago, a time-travel query
          // across a rewrite — must not race deletion (Delta's
          // retention-clock shape). Explicit [[vacuum]] remains the real
          // reclaimer; `graft.reclaimGraceMs` <= 0 restores eager
          // reclamation.
          val graceMs = spark.conf.getOption("graft.reclaimGraceMs")
            .map(_.toLong).getOrElse(TableCatalog.DefaultReclaimGraceMs)
          val cutoff = System.currentTimeMillis() - graceMs
          fs.listStatus(tableDir(fq)).filter(_.isDirectory)
            .filter(st => st.getPath.getName.matches("v_\\d{6}") &&
              st.getPath.getName.stripPrefix("v_").toInt < next - 1 &&
              !linkDirs.contains(st.getPath.getName) &&
              st.getModificationTime <= cutoff)
            .foreach { st =>
              val old = fs.makeQualified(st.getPath).toString
              if (!liveFiles.exists(lp => lp == old || lp.startsWith(old + "/")))
                fs.delete(st.getPath, true)
            }
          return
        } finally {
          // release ONLY a claim we still own: after a detected steal
          // the THIEF owns this path — an unconditional delete would
          // re-open the version slot to a third writer while the thief
          // may already be past its final owner check (double commit of
          // v_next)
          if (ownsClaim()) fs.delete(claim, false)
        }
      } catch {
        case e: java.util.ConcurrentModificationException
            if rebaseIf.isDefined =>
          attempts += 1
          if (attempts > TableCatalog.MaxRebaseAttempts) throw e
          val cur = headOf(fq)
          if (cur != head) {
            // a winner COMMITTED: validate commutativity before rebasing
            // (a blind append — empty read set — recomputes the layout
            // in its write, so only snapshot-bound ops need the guard)
            val winnerSnap = if (cur < 0) None else Some(snapshot(fq, cur))
            if (readSet.nonEmpty) {
              def abort(what: String) =
                new java.util.ConcurrentModificationException(
                  s"$fq: a concurrent commit $what — rerun the operation " +
                    "against the current version")
              val winner = winnerSnap.getOrElse(throw abort("dropped the table"))
              if (base.nonEmpty && winner.partitionColumns != basePcols)
                throw abort("changed the partition layout")
              if (!readSet.subsetOf(winner.byKey.keySet))
                throw abort("rewrote file(s) this operation read")
              val newDvs = winner.dvFiles.filterNot(p => knownDvs(keyOf(p)))
              if (dvPairs(newDvs).keys.exists(readSet))
                throw abort("masked row(s) in file(s) this operation read")
            }
            headSnap = winnerSnap
          } else Thread.sleep(25L * math.min(attempts, 8)) // in-flight
          // claim contention: wait for the holder to commit or release
      }
    }
  }

  /** Carry version `head`'s whole chain into the new version `dir`
    * unchanged: its layout, its O(1) back-reference (every Nth version
    * a checkpoint; `retired` = the files a copy-on-write rewrite
    * tombstones), and its DV manifest — outstanding masks stay valid,
    * the files they address ride along unmodified. */
  private def carryChain(head: Snapshot, dir: Path,
      retired: Seq[DataFile] = Nil): Unit = {
    writeLayout(head, dir)
    writeFlatRef(head, dir, retired)
    if (head.dvFiles.nonEmpty) writeDvManifest(dir, head.dvFiles)
  }

  /** Move executor-staged files into `dir` at their relative paths
    * (rename: O(files) metadata ops, no byte copied). */
  private def adoptStaged(dir: Path, staged: Seq[(Path, String)]): Unit = {
    fs.mkdirs(dir)
    staged.foreach { case (f, rel) =>
      val dest = new Path(dir, rel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(f, dest))
        throw new IllegalStateException(s"failed to adopt staged file $f")
    }
  }

  /** Append (creating the table if absent — save_as_table semantics).
    * O(delta): only the new rows are written; the prior version's data
    * files are carried by manifest reference, never copied or
    * rewritten. A BLIND append commutes with any concurrent commit, so
    * a snapshot conflict REBASES onto the winner (manifests recomputed
    * at the advanced head) instead of aborting — two racing appends
    * both land, in commit order. */
  def append(fq: String, df: DataFrame): Unit =
    commit(fq, liveSnapshot(fq), Some((Nil, Nil))) { (dir, head) =>
      head match {
        case None => df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
        case Some(s) =>
          // data files always carry PHYSICAL names (column mapping);
          // constraints enforce on the logical view, inside the write;
          // narrower numeric types upcast / wider ones widen the chain.
          // A partitioned chain's delta lands partitioned in the new
          // version dir.
          toPhysical(enforceConstraints(s, alignWriteTypes(s, df)), s.columnMapping)
            .write.mode(SaveMode.Overwrite)
            .partitionBy(s.partitionColumns: _*).parquet(dir.toString)
          carryChain(s, dir)
      }
    }

  /** Overwrite = drop + recreate with df's schema (unpartitioned).
    * Starts a fresh chain under the caller's own column names — any
    * prior rename/drop mapping is reset from this version on. */
  def overwrite(fq: String, df: DataFrame): Unit = {
    val edf = enforceOnOverwrite(fq, df)
    commit(fq, liveSnapshot(fq), None) { (dir, _) =>
      edf.write.mode(SaveMode.Overwrite).parquet(dir.toString)
      resetSchemaActions(fq, dir, carryConstraints = true)
    }
  }

  /** PARTITION EVOLUTION (Iceberg-style): append `df` under a NEW
    * hive layout without rewriting a byte of prior data — the new
    * version records the new partition columns in `_PARTITIONS` and
    * carries the prior chain, whatever ITS layout, by reference. Reads
    * take each file's partition columns from its path where its
    * version's layout has them and inline from the data where it
    * doesn't, so partition pruning applies to the evolved slice
    * immediately while old files keep their old scan cost until a
    * rewrite — exactly Iceberg's evolution trade. At 100 TB this is
    * what makes "we should have partitioned by day" fixable without a
    * table rewrite. Outstanding DV masks ride along. */
  def appendEvolvePartitioning(fq: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partition columns required")
    val s = snapshot(fq)
    // a bucketed chain must not silently evolve into a plain layout:
    // the newest-reachable `_BUCKETSPEC` would still claim the table
    // bucketed while the new files route nowhere. Re-specs are
    // rewrites — loud recipe instead of a mixed chain.
    require(!s.isBucketed,
      s"$fq is bucketed — appendEvolvePartitioning would orphan its " +
        "bucket layout; use appendBucketed to append, or rebucket(...) " +
        "to change the layout (a rewrite)")
    val pdf = toPhysical(enforceConstraints(s, df), s.columnMapping)
    commit(fq, Some(s), None) { (dir, _) =>
      pdf.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*).parquet(dir.toString)
      carryChain(s, dir)
      writePartitions(dir, partitionCols) // the new layout replaces v's
    }
  }

  /** Overwrite with hive-style partitioning — the 100 TB layout: RAW/
    * REFINED tables partitioned by e.g. (practice, load date) so
    * incremental reads and flag-clear rewrites touch only the affected
    * partitions (partition pruning; SURVEY §7.4). Subsequent appends /
    * updates / merges stay partitioned (layout is recorded per
    * version in `_PARTITIONS`). */
  def overwritePartitioned(fq: String, df: DataFrame, partitionCols: Seq[String]): Unit = {
    val edf = enforceOnOverwrite(fq, df)
    commit(fq, liveSnapshot(fq), None) { (dir, _) =>
      edf.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*).parquet(dir.toString)
      writePartitions(dir, partitionCols)
      resetSchemaActions(fq, dir, carryConstraints = true)
    }
  }

  // ---- BUCKETED layout (Iceberg's bucket transform) ----------------------
  // Identity partitioning on a 100 TB fact table's JOIN KEY is
  // unrealistic (cardinality = key count); bucket(n, key) is the real
  // co-location story: rows hash into n hive dirs, the scan reports
  // the bucket TRANSFORM, and two tables bucketed the same way
  // equi-join with zero exchange (SPJ) at ANY key cardinality. The
  // synthetic `gbucket` column is path-only (no leading underscore:
  // hive listings treat `_`-prefixed paths as HIDDEN) — filtered from
  // every read
  // schema. Bucket id = floorMod(murmur3(key, seed 42), n), i.e.
  // exactly Spark's `pmod(hash(key), n)`, and the SQL catalog's
  // `bucket` V2 function computes the same — the writer's routing and
  // the planner's transform can never disagree.

  private[graft] def BucketCol: String = TableCatalog.BucketCol

  private def bucketed(df: DataFrame, bucketCol: String, n: Int): DataFrame = {
    require(n > 0, s"numBuckets must be positive, got $n")
    require(df.columns.contains(bucketCol),
      s"bucket column $bucketCol not in ${df.columns.mkString(",")}")
    df.withColumn(BucketCol, pmod(hash(col(bucketCol)), lit(n)))
  }

  private def writeBucketSpec(dir: Path, bucketCol: String, n: Int): Unit = {
    val out = fs.create(new Path(dir, "_BUCKETSPEC"), true)
    try out.write(s"$bucketCol,$n".getBytes("UTF-8")) finally out.close()
  }

  /** Bucket spec of version v: its `_BUCKETSPEC`, which every
    * version of a bucketed layout carries (see [[writeLayout]]). */
  private[catalog] def bucketSpecOf(fq: String, v: Int): Option[(String, Int)] =
    TableCatalog.cachedParse(fs, new Path(versionDir(fq, v), "_BUCKETSPEC"),
        "bucketspec") { text =>
      val Array(c, n) = text.split(","): @unchecked
      (c, n.toInt)
    }

  /** Record version `v`'s layout into a freshly committed dir:
    * `_PARTITIONS` (none for a flat layout), plus `_BUCKETSPEC` when
    * the layout is bucketed — a bucketed table that loses its spec
    * would stop routing, pruning and SPJ-ing. Every mutator that
    * preserves an existing layout commits through this, not bare
    * [[writePartitions]]. */
  private def writeLayout(s: Snapshot, dir: Path): Unit = {
    writePartitions(dir, s.partitionColumns)
    if (s.isBucketed)
      s.bucketSpec.foreach { case (c, n) => writeBucketSpec(dir, c, n) }
  }

  /** Re-derive the synthetic routing column before a partitioned
    * write when v's layout is bucketed — `gbucket` is DERIVED, never
    * authoritative: an UPDATE may reassign the bucket source column,
    * a MERGE source doesn't carry the routing column at all, and a
    * compaction frame reads through the logical schema (which hides
    * it). Identity and flat layouts pass through untouched; a
    * bucketed layout without a spec fails loudly rather than write
    * rows no bucket-pruned read would find. */
  private def reroute(s: Snapshot, df: DataFrame): DataFrame =
    if (!s.isBucketed) df
    else s.bucketSpec match {
      case Some((c, n)) => bucketed(df.drop(BucketCol), c, n)
      case None => throw new IllegalStateException(
        s"${s.fq} v${s.version} has a bucketed layout but no _BUCKETSPEC — cannot route rows")
    }

  /** The synthetic routing column never reaches a caller. */
  private def dropRouting(df: DataFrame): DataFrame = df.drop(BucketCol)

  /** Overwrite as a BUCKETED table: hive layout on `bucket(n,
    * bucketCol)`, one commit. `partitionCols` prepends IDENTITY
    * partitions — the canonical 100 TB fact layout
    * `PARTITIONED BY (date, bucket(n, key))`: coarse time pruning AND
    * key co-location in one layout (the bucket transform always
    * routes LAST, within each identity partition). */
  def overwriteBucketed(fq: String, df: DataFrame, bucketCol: String,
      numBuckets: Int, partitionCols: Seq[String] = Nil): Unit = {
    require(!partitionCols.contains(bucketCol),
      s"bucket column $bucketCol cannot also be an identity partition")
    val withB = bucketed(enforceOnOverwrite(fq, df), bucketCol, numBuckets)
    val layout = partitionCols :+ BucketCol
    commit(fq, liveSnapshot(fq), None) { (dir, _) =>
      withB.repartition(layout.map(col): _*).write.mode(SaveMode.Overwrite)
        .partitionBy(layout: _*).parquet(dir.toString)
      writePartitions(dir, layout)
      writeBucketSpec(dir, bucketCol, numBuckets)
      resetSchemaActions(fq, dir, carryConstraints = true)
    }
  }

  /** Change the bucket layout (count and/or key, optionally the
    * identity partitions) — a REWRITE commit, the only sound re-spec:
    * a chain mixing two bucket specs would route the same key into
    * files hashed under different moduli, silently breaking bucket
    * pruning and storage-partitioned joins. Reads the current
    * snapshot, rewrites it under the new layout in ONE commit (OCC
    * like every overwrite); prior versions stay time-travelable under
    * their own spec (the spec rides each chain). */
  def rebucket(fq: String, bucketCol: String, numBuckets: Int,
      partitionCols: Seq[String] = Nil): Unit = {
    require(currentVersion(fq).isDefined, s"table not found: $fq")
    overwriteBucketed(fq, dropRouting(read(fq)), bucketCol, numBuckets,
      partitionCols)
  }

  /** O(delta) append into the bucketed layout — rows route by the
    * SAME hash as the original overwrite (spec rides the chain).
    * Types align BEFORE the routing hash is computed: murmur3 hashes
    * int and long to different values, so a narrower incoming bucket
    * column must upcast to the table's type first — routing on the
    * narrow value would land rows in buckets the readers (which hash
    * in the table type) never probe, silently dropping them from
    * bucket-pruned lookups and storage-partitioned joins. */
  def appendBucketed(fq: String, df: DataFrame): Unit = {
    val s = snapshot(fq)
    val (c, n) = s.bucketSpec.getOrElse(throw
      new IllegalArgumentException(s"$fq is not bucketed — use append"))
    append(fq, bucketed(alignWriteTypes(s, df), c, n))
  }

  /** TRUNCATE: keep schema, zero rows (layout preserved). The marker
    * file carries PHYSICAL names like every data file. */
  def truncate(fq: String): Unit = {
    val s = snapshot(fq)
    val empty = toPhysical(read(fq).limit(0), s.columnMapping)
    commit(fq, Some(s), None) { (dir, _) =>
      empty.write.mode(SaveMode.Overwrite).parquet(dir.toString)
      writeLayout(s, dir)
    }
  }

  // ---- CDC sidecars: the change feed survives rewrites --------------------
  // A REWRITE commit (COW update/delete/merge, compaction) is not
  // per-commit reconstructable from its file diff — carried rows
  // appear as remove+add. The mutators therefore record their row
  // changes at commit time into a per-version `_CDCLOG/v_NNNNNN/`
  // parquet sidecar (the rows are already in hand — O(touched rows),
  // Delta's change-data-file shape); compaction (a true no-op
  // change-wise) drops a `v_NNNNNN._EMPTY` marker. The feed serves a
  // CDC-recorded commit from the log alone — it needs NEITHER the
  // commit's version dir nor its predecessor, so the commit-time
  // pruner retiring rewritten version dirs never severs the feed.
  // Explicit [[vacuum]] retention is the feed horizon (Delta's
  // model): entries older than the cutoff retire with their
  // versions. CDC files carry PHYSICAL column names plus
  // `_change_type`, so the CDF readers' logical→physical translation
  // applies to them exactly as to data files.

  private def cdcLogDir(fq: String) = new Path(tableDir(fq), "_CDCLOG")

  /** Record a commit's row changes; `dir` is the version dir being
    * committed (its NAME keys the log entry). */
  private def writeCdc(fq: String, dir: Path, changes: DataFrame): Unit =
    changes.write.mode(SaveMode.Overwrite)
      .parquet(new Path(cdcLogDir(fq), dir.getName).toString)

  private def writeCdcEmpty(fq: String, dir: Path): Unit = {
    fs.mkdirs(cdcLogDir(fq))
    fs.create(new Path(cdcLogDir(fq), s"${dir.getName}._EMPTY"), true).close()
  }

  /** CDC record of a commit: Some(files with sizes) when the commit
    * recorded its row changes (empty = a no-op rewrite, e.g.
    * compaction), None when it predates CDC recording or its entry
    * was vacuumed. */
  private[graft] def cdcFilesAt(fq: String, v: Int)
      : Option[Seq[(String, Long)]] = {
    val d = new Path(cdcLogDir(fq), f"v_$v%06d")
    if (fs.exists(d))
      Some(fs.listStatus(d).filter(_.isFile)
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .map(st => (fs.makeQualified(st.getPath).toString, st.getLen)).toSeq)
    else if (fs.exists(new Path(cdcLogDir(fq), f"v_$v%06d._EMPTY")))
      Some(Nil)
    else None
  }

  /** The files of snapshot `s` that hold a row matching `pred`, in
    * chain order, planned from commit metadata first: the predicate's
    * conjuncts, translated to source filters on PHYSICAL names, go
    * through the scan's own pruning ([[graft.connector.FileSkipping
    * .prune]]: zero-row files, partition values, bucket ids, stats,
    * blooms; a conjunct that does not translate keeps every file).
    * One survivor IS the answer (no job); several are probed together
    * in ONE job with no exchange — a flag clear on a table that grows
    * one file per run touches only the run's own file. */
  private[graft] def candidateFiles(s: Snapshot, pred: Column): Seq[DataFile] = {
    if (s.chain.isEmpty) return Nil
    val m = s.columnMapping
    val logical = toLogical(spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](), s.physicalSchema), m)
    val filters = logical.filter(pred).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        graft.connector.FilterColumns.fromExpression(f.condition)
          .map(graft.connector.FilterColumns.mapAttrs(_, m.physicalOf))
    }.getOrElse(Nil)
    val cands = s.inChainOrder(graft.connector.FileSkipping.prune(s, filters))
    if (cands.size <= 1) cands
    else {
      val hit = graft.util.SmallAgg.countBy(
        toLogical(readPhysical(s, cands), m).filter(pred), input_file_name())
        .keySet.map(f => new Path(f).toUri.getPath)
      cands.filter(f => hit(f.key))
    }
  }

  /** A copy-on-write rewrite of snapshot `s`'s `hit` files, written but
    * not committed: the replacement files and their change rows wait
    * under `<root>/_staging`, so the write jobs can run beside other
    * work and the version is claimed only at [[commit]]. `staged` (the
    * data files by their path below the version dir) is None when the
    * rewrite matched no row. */
  private[graft] final class StagedRewrite private[TableCatalog] (
      s: Snapshot, hit: Seq[DataFile], staging: Path,
      staged: Option[Seq[(Path, String)]]) {

    /** Commit the staged files as the version after the head, then drop
      * the staging dir; nothing matched, no commit. The rewrite depends
      * only on `hit`, so it REBASES across a winner that left every hit
      * file live and unmasked (a concurrent append) — carrying the
      * winner's chain with `hit` tombstoned — and aborts on one that
      * rewrote or masked a hit file. */
    def commit(): Unit = try {
      staged.foreach(files => TableCatalog.this.commit(s.fq, Some(s),
          Some((hit.map(f => new Path(f.path)), s.dvFiles))) { (dir, headSnap) =>
        val head = headSnap.get
        adoptStaged(dir, files)
        fs.mkdirs(cdcLogDir(s.fq))
        val cdcDir = new Path(staging, "cdc")
        if (!fs.rename(cdcDir, new Path(cdcLogDir(s.fq), dir.getName)))
          throw new IllegalStateException(s"failed to adopt staged changes $cdcDir")
        // O(touched) metadata: reference the head, tombstone only the
        // rewritten files (Delta's remove-action shape); the carried
        // masks' entries addressing rewritten files no longer match any
        // chain path and are inert
        if (hit.size < head.chain.size) carryChain(head, dir, retired = hit)
        else writeLayout(head, dir)
      })
    } finally discard()

    /** Drop the staged files; the table is untouched. Idempotent. */
    def discard(): Unit = {
      fs.delete(staging, true)
      // drop the `_staging` parent when empty; a concurrent writer
      // staging there makes the delete fail, and the parent stays
      try {
        val parent = staging.getParent
        if (fs.exists(parent) && fs.listStatus(parent).isEmpty) fs.delete(parent, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Stage a copy-on-write rewrite of snapshot `s`'s `hit` files.
    * `data` (the replacement files, written in the snapshot's layout)
    * and `changes` (their CDC rows) are written to a staging dir under
    * `<root>/_staging` as two concurrent jobs; `matched` must be
    * observed on `data` as `n`, the number of rows the predicate
    * matched. Nothing matched: the staging dir goes at once. A failed
    * write leaves no staging behind. */
  private def stageRewrite(s: Snapshot, hit: Seq[DataFile],
      data: DataFrame, matched: org.apache.spark.sql.Observation,
      changes: DataFrame): StagedRewrite = {
    val staging = new Path(root, s"_staging/${java.util.UUID.randomUUID()}")
    val dataDir = new Path(staging, "data")
    val empty = new StagedRewrite(s, hit, staging, None)
    try {
      withMicrosTimestamps {
        graft.util.Concurrent.forEach(Seq((data, dataDir, s.partitionColumns),
            (changes, new Path(staging, "cdc"), Nil)), 2) {
          case (df, out, by) =>
            df.write.mode(SaveMode.Overwrite).partitionBy(by: _*).parquet(out.toString)
        }
      }
      // the optimizer drops the observation when the rewrite folds to
      // no rows (a predicate that is constant true): unknown counts as a match
      if (matched.get.get("n").exists(n => n == null || n == 0L)) {
        empty.discard()
        return empty
      }
      val written = listFilesRecursive(dataDir)
      if (written.isEmpty && hit.size == s.chain.size) // a partitioned write
        // of no rows leaves no file: stage the schema carrier a flat
        // write leaves
        spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), data.schema)
          .write.mode(SaveMode.Overwrite).parquet(dataDir.toString)
      val base = keyOf(dataDir) + "/"
      new StagedRewrite(s, hit, staging, Some(
        (if (written.nonEmpty) written else listFilesRecursive(dataDir))
          .map(p => (p, keyOf(p).stripPrefix(base)))))
    } catch { case t: Throwable => empty.discard(); throw t }
  }

  /** UPDATE t SET col = value WHERE predicate — copy-on-write at FILE
    * granularity: only files that contain at least one matching row
    * are rewritten; every other file is carried into the new version
    * by manifest reference. On a partitioned table the replacement
    * rows land in their (possibly new) partition dirs, so a per-run
    * flag clear on a 100 TB partitioned table rewrites the run's files,
    * not its partitions (the same pruning Delta/Iceberg do for
    * UPDATE). Staged on the live snapshot, then committed
    * ([[stageUpdate]]). */
  def updateWhere(fq: String, assignments: Map[String, Column], where: Column): Unit = {
    val s = snapshot(fq)
    val hit = candidateFiles(s, where)
    // no candidate: no matching row anywhere, the current version stands
    if (hit.nonEmpty) stageUpdate(s, hit, assignments, where).commit()
  }

  /** Stage [[updateWhere]] on snapshot `s`, whose files that can hold a
    * matching row are `hit` ([[candidateFiles]]); rows committed after
    * `s` live in other files and are never touched. Makes no public
    * catalog call, so it may run on a helper thread beside the caller's
    * own writes. */
  private[graft] def stageUpdate(s: Snapshot, hit: Seq[DataFile],
      assignments: Map[String, Column], where: Column): StagedRewrite = {
    val m = s.columnMapping // the rewrite runs on the LOGICAL view; the
    // rewritten files land under physical names
    // the rewrite must read THROUGH outstanding DV masks, or rows a
    // prior merge-on-read delete masked would resurrect in the rewrite
    val cur = toLogical(readMasked(s, hit), m)
    val matched = org.apache.spark.sql.Observation()
    // reroute: an assignment may change the bucket source column — the
    // replacement row must land in its NEW bucket dir, or later bucket
    // pruning would wrongly skip it (wrong results, not perf)
    val updated = toPhysical(enforceConstraints(s, reroute(s,
      assignments.foldLeft(cur.observe(matched,
          sum(when(where, 1L).otherwise(0L)).as("n"))) { case (d, (c, value)) =>
        d.withColumn(c, when(where, value).otherwise(col(c)))
      })), m)
    // CDC: pre-image deletes + post-image inserts (O(touched rows))
    val changed = dropRouting(cur).filter(where)
    val cdc = changed.withColumn("_change_type", lit("delete"))
      .unionByName(assignments.foldLeft(changed) { case (d, (c, value)) =>
        d.withColumn(c, value)
      }.withColumn("_change_type", lit("insert")))
    stageRewrite(s, hit, updated, matched, toPhysical(cdc, m))
  }

  /** DELETE FROM fq WHERE — the GDPR/right-to-erasure shape. Same
    * file-granular copy-on-write as [[updateWhere]]: parquet footer
    * stats find the files holding matching rows, only those rewrite
    * (minus the deleted rows), untouched files ride along by manifest
    * — erasing one subject from a 100 TB table rewrites the handful of
    * files that mention them. The old version remains readable via
    * time travel until compaction/vacuum retires it (retention is the
    * operator's GDPR clock, as in Delta/Iceberg). */
  def deleteWhere(fq: String, where: Column): Unit = {
    val s = snapshot(fq)
    val m = s.columnMapping // logical probe, physical rewrite
    val hit = candidateFiles(s, where)
    if (hit.isEmpty) return
    // see updateWhere: read through the masks
    val hitRows = toLogical(readMasked(s, hit), m)
    val matched = org.apache.spark.sql.Observation()
    val kept = toPhysical(hitRows.observe(matched,
      sum(when(where, 1L).otherwise(0L)).as("n")).filter(!where), m)
    val cdc = dropRouting(hitRows).filter(where) // the erased rows
      .withColumn("_change_type", lit("delete"))
    stageRewrite(s, hit, kept, matched, toPhysical(cdc, m)).commit()
  }

  /** Snapshot `s`'s live rows under their logical names, each carrying
    * its `__fp`/`__ri` DV address — the scan every merge-on-read
    * mutation masks from. */
  private def addressedRows(s: Snapshot): DataFrame =
    toLogical(readMasked(s, s.chain, keepPos = true), s.columnMapping)

  /** DELETE with merge-on-read deletion vectors: NO data file is
    * rewritten — the new version carries every prior file by manifest
    * reference and records the matching rows' (file, row_index)
    * addresses in a `_DV/` parquet sidecar that [[read]] /
    * [[readVersion]] anti-join away. Point-deletes on a 100 TB table
    * cost O(matched rows) written bytes instead of a 128 MB
    * copy-on-write per touched file; [[compact]] materializes the
    * masks (and [[vacuum]] then retires the masked bytes — the erasure
    * clock, as with [[deleteWhere]]). Hive-partitioned tables take the
    * same MoR path: the DV sidecar addresses (file, row_index) across
    * the partition layout — a point-delete in a 1 TB partition writes
    * O(matched rows) bytes instead of rewriting the partition. */
  def deleteWhereDV(fq: String, where: Column): Unit = {
    val s = snapshot(fq)
    if (s.chain.isEmpty) return
    // ONE scan of the candidate files: the matched (file, row_index)
    // frame is deletes-sized, so it persists whole; the count() both
    // answers the emptiness probe AND materializes the cache, and the
    // sidecar write below reads the cache — the data files are read
    // exactly once per mutation, not once per downstream action.
    // (already-masked rows are excluded, so re-deleting is a no-op)
    val newDv = addressedRows(s).filter(where)
      .select(col("__fp").as("file"), col("__ri").as("row_index"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (newDv.count() == 0) return // nothing matches: version stands
      // rebase across commuting winners (blind appends): the DV
      // addresses stay valid iff no winner rewrote/re-masked the files
      // we scanned — the protocol validates exactly that. A concurrent
      // append's rows simply aren't subject to this delete's predicate
      // (it read snapshot v) — Delta's semantics
      commit(fq, Some(s), Some(s.readSet)) { (dir, head) =>
        fs.mkdirs(dir)
        newDv.write.mode(SaveMode.Overwrite).parquet(dvDir(dir).toString)
        carryChain(head.get, dir)
      }
    } finally newDv.unpersist()
  }

  /** UPDATE with merge-on-read semantics: matching rows are masked by a
    * deletion vector and their updated copies land as NEW data files —
    * delete+reinsert, the Iceberg v2 MoR update shape. Cost is
    * O(matched rows) read+written, never a whole-file rewrite; the
    * rewrite debt is settled by [[compact]]. Hive-partitioned tables
    * take the same path: masked originals via the DV sidecar, updated
    * copies written PARTITIONED into the new version dir (so they keep
    * riding partition pruning). */
  def updateWhereDV(fq: String, assignments: Map[String, Column],
      where: Column): Unit = {
    val s = snapshot(fq)
    if (s.chain.isEmpty) return
    // ONE scan: `hit` (the matched rows with their DV addresses) is
    // matched-rows-sized, so it persists whole. The count() is both
    // the emptiness probe and the cache materialization; the DV
    // sidecar write AND the replacement-data write below each read the
    // cache — previously three separate jobs re-read every candidate
    // file (at 100 TB: three scans of the touched files instead of one).
    val hit = addressedRows(s).filter(where)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (hit.count() == 0) return
      val newDv = hit.select(col("__fp").as("file"), col("__ri").as("row_index"))
      val set = assignments.foldLeft(hit.drop("__fp", "__ri")) {
        case (d, (c, value)) => d.withColumn(c, value) // `where` applied
      }
      // reroute (see updateWhere) — a reassigned bucket source column
      // must re-route its replacement row to the new bucket dir
      val updated = toPhysical(enforceConstraints(s, reroute(s, set)),
        s.columnMapping)
      // rebase across commuting winners (see deleteWhereDV) — the MoR
      // delete+reinsert stays valid while our scanned files live
      commit(fq, Some(s), Some(s.readSet)) { (dir, head) =>
        updated.write.mode(SaveMode.Overwrite)
          .partitionBy(s.partitionColumns: _*).parquet(dir.toString)
        newDv.write.mode(SaveMode.Overwrite).parquet(dvDir(dir).toString)
        carryChain(head.get, dir)
      }
    } finally hit.unpersist()
  }

  /** Outstanding masked-row count of the live version (0 = no DVs) —
    * the compaction-policy signal for settling merge-on-read debt.
    * Counts only entries addressing LIVE files (inert entries carried
    * past a copy-on-write rewrite don't mask anything). */
  def deletionVectorRows(fq: String): Long =
    snapshot(fq).files.map(_.dvRows.length.toLong).sum

  /** MERGE INTO fq USING source ON keys — source wins on match. Same
    * file-granular copy-on-write as [[updateWhere]]: only files that
    * contain a key present in `source` are merged and rewritten;
    * untouched files ride along by manifest reference, so merge cost
    * scales with the overlap, not the table. */
  def merge(fq: String, source: DataFrame, keys: Seq[String]): Unit =
    currentVersion(fq) match {
      case None => overwrite(fq, source)
      case Some(v) =>
        val s = snapshot(fq, v)
        val m = s.columnMapping // keys/source bind logically
        val src = source.cache()
        try {
          val keySet = src.select(keys.map(col): _*).distinct()
          val keyPred = {
            // files whose rows semi-join the source keys get rewritten;
            // input_file_name() must bind to the scan BEFORE the join
            // (it is per-source)
            val target = toLogical(readPhysical(s, s.chain), m)
              .select(keys.map(col) :+ input_file_name().as("__file"): _*)
            target.join(keySet, keys, "left_semi")
              .select(col("__file")).distinct()
              .collect().map(r => new Path(r.getString(0)).toUri.getPath).toSet
          }
          val (hit, carried) = s.chain.partition(f => keyPred.contains(f.key))
          // declared columns too: the upsert unions by name. Bucketed:
          // the source frame never carries the routing column — upsert
          // on the LOGICAL columns, then reroute the whole merged frame
          // (derived column, recompute is exact). Read through the masks
          // (see updateWhere).
          val base =
            if (hit.isEmpty) src.limit(0) // no overlap: plain append of source
            else dropRouting(withDeclared(toLogical(readMasked(s, hit), m), m))
          val merged = toPhysical(enforceConstraints(s, reroute(s,
            graft.operators.MergeOps.upsert(base, src, keys))), m)
          // CDC when files rewrote: matched pre-images out, every source
          // row in (upsert = delete+insert for matches, plain insert for
          // new keys). A no-overlap merge is a pure append — the feed's
          // file diff already reconstructs it.
          val cdcOpt =
            if (hit.isEmpty) None
            else Some(base.join(keySet, keys, "left_semi")
              .withColumn("_change_type", lit("delete"))
              .unionByName(src.withColumn("_change_type", lit("insert"))))
          commit(fq, Some(s), None) { (dir, _) =>
            merged.write.mode(SaveMode.Overwrite)
              .partitionBy(s.partitionColumns: _*).parquet(dir.toString)
            cdcOpt.foreach(c => writeCdc(fq, dir, toPhysical(c, m)))
            if (carried.nonEmpty) // reference + tombstones, O(touched)
              carryChain(s, dir, retired = hit)
            else writeLayout(s, dir)
          }
        } finally src.unpersist()
    }

  /** Qualified data-file paths of the live version (DV sidecars and
    * metadata excluded) — the no-rewrite evidence for merge-on-read
    * specs: a DV delete leaves this set identical, a MoR update only
    * adds to it. */
  def dataFilePaths(fq: String): Seq[String] = snapshot(fq).files.map(_.key).sorted

  /** (file count, total bytes) of the live version — the compaction
    * policy input. */
  def fileStats(fq: String): (Int, Long) = {
    val s = snapshot(fq)
    (s.files.size, s.files.map(_.bytes).sum)
  }

  /** VACUUM: physically remove version directories older than the
    * newest `keepVersions`, EXCEPT any still referenced through a
    * retained version's manifest chain (O(delta) appends make old
    * dirs' files part of newer versions — reachability, not age,
    * decides). This is what completes [[deleteWhere]]'s erasure: a
    * deleted subject's bytes persist in prior versions until vacuum
    * retires them, so `keepVersions` is the compliance retention
    * clock (Delta's VACUUM RETAIN semantics).
    *
    * @return names of the version dirs physically removed */
  def vacuum(fq: String, keepVersions: Int = 2): Seq[String] = {
    val cur = currentVersion(fq).getOrElse(
      throw new IllegalArgumentException(s"table not found: $fq"))
    val cutoff = cur - keepVersions + 1 // retain [cutoff, cur]
    if (cutoff <= 0) return Seq.empty
    val retained = (cutoff to cur).filter(v => fs.exists(versionDir(fq, v)))
    val reachable = retained.map(snapshot(fq, _)).flatMap(s =>
        s.files.map(_.owner.getName) ++
          s.dvFiles.map(p => versionAncestor(p).getName)).toSet ++
      retained.map(v => f"v_$v%06d") ++
      // flat dir-reference LINK dirs (metadata commits hold no data
      // files but carry the chain) stay reachable
      retained.flatMap(v =>
        flatChainDirNames(fq, v, stopAtCheckpoints = true))
    val removed = (0 until cutoff).map(v => versionDir(fq, v))
      .filter(d => fs.exists(d) && !reachable.contains(d.getName))
    removed.foreach(d => fs.delete(d, true))
    // the CDC log follows the same retention clock: entries for
    // versions past the cutoff retire — the feed's history horizon
    val cdcd = cdcLogDir(fq)
    if (fs.exists(cdcd))
      fs.listStatus(cdcd).map(_.getPath)
        .filter(p => p.getName.take(8) match {
          case s if s.matches("v_\\d{6}") =>
            s.stripPrefix("v_").toInt < cutoff
          case _ => false
        })
        .foreach(fs.delete(_, true))
    removed.map(_.getName)
  }

  /** After a maintenance rebase onto `head`, carry the commuting
    * winners' delta into a rewrite commit that otherwise materializes
    * snapshot `snapV`: their new data files, AND any NEW
    * deletion-vector sidecars. [[commit]]'s rebase validation
    * guarantees those new DVs address only non-read-set (delta)
    * files — without carrying them, a delete that raced a compaction
    * would silently RESURRECT its masked rows in the compacted
    * version (the data rides along, the mask is dropped). */
  private def carryRebaseDelta(s: Snapshot, winner: Snapshot, dir: Path): Unit =
    if (winner.version != s.version) {
      val delta = winner.chain.filterNot(f => s.byKey.contains(f.key))
      if (delta.nonEmpty) writeManifest(dir, delta.map(f => new Path(f.path)))
      val newDvs = winner.dvFiles.filterNot(p => s.dvKeys(p.toUri.getPath))
      if (newDvs.nonEmpty) writeDvManifest(dir, newDvs)
    }

  /** OPTIMIZE-style compaction: rewrite the manifest chain's many
    * small files into `ceil(bytes / targetFileBytes)` right-sized
    * files and start a fresh chain. O(delta) appends make ingest
    * cheap but accumulate files; periodic compaction restores scan
    * efficiency (row-group locality, fewer tasks, fewer footers) —
    * the standard small-file remedy on a 100 TB lakehouse. */
  def compact(fq: String, targetFileBytes: Long = 128L << 20): Unit =
    compactFrom(fq, currentVersion(fq).getOrElse(
      throw new IllegalArgumentException(s"table not found: $fq")),
      targetFileBytes)

  /** [[compact]] pinned to an explicit snapshot version — the rebase
    * path a racing-writers test drives deterministically (a real
    * compaction reads the head, then racers land while it rewrites). */
  private[graft] def compactFrom(fq: String, v: Int,
      targetFileBytes: Long = 128L << 20): Unit = {
    val s = snapshot(fq, v)
    val bytes = s.files.map(_.bytes).sum
    // a single-file table still compacts when DV masks are outstanding:
    // compaction is what materializes merge-on-read deletes (read(fq)
    // below is DV-masked; the fresh chain carries no DV manifest)
    if (s.files.size <= 1 && s.dvFiles.isEmpty) return
    val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val pcols = s.partitionColumns
    // conflict RESOLUTION: `df` below is pinned to snapshot v's file
    // paths, so if appends land while the rewrite runs, the compaction
    // REBASES — commits the compacted v-snapshot with the winners'
    // delta carried by manifest (commit-order chain: their files ride
    // uncompacted until the next cycle). Without this a continuous
    // append stream starves compaction forever. A winner that REWROTE
    // or newly MASKED any of v's files still aborts (not commuting).
    // compaction reads the LOGICAL view (dropped columns' bytes retire
    // here — the mapping's erasure clock) and writes PHYSICAL names.
    // Partitioned layouts co-locate rows of each partition before the
    // partitioned write so each partition directory compacts to ~one
    // file; bucketed ones re-derive the routing column first (the
    // logical read hides it) — compaction is also what re-buckets
    // inline-landed row-level-operation replacements back into the
    // hive layout.
    val df = toPhysical(reroute(s, readVersion(fq, v)), s.columnMapping)
    val sized =
      if (pcols.nonEmpty) df.repartition(parts, pcols.map(col): _*)
      else df.repartition(parts)
    commit(fq, Some(s), Some(s.readSet)) { (dir, head) =>
      sized.write.mode(SaveMode.Overwrite)
        .partitionBy(pcols: _*).parquet(dir.toString)
      writeLayout(s, dir)
      carryRebaseDelta(s, head.get, dir)
      writeCdcEmpty(fq, dir) // change-wise a no-op: the feed emits nothing
    }
  }

  /** Compaction with Z-ORDER clustering on `zorderCols` (numeric):
    * rows are range-partitioned and sorted by the Morton (bit-
    * interleaved) code of the columns, so each output file covers a
    * small hyper-rectangle of the key space — parquet footer min/max
    * then prune multi-dimensionally, the data-skipping layout Delta's
    * OPTIMIZE ZORDER BY provides. Default bucketing: 16-bit equal-width
    * from global min/max (one stats pass). `rankBased = true` buckets
    * by approximate quantiles instead (one approxQuantile pass, 256
    * buckets per column) — the right mode for heavy-skew / outlier
    * distributions, where equal-width would collapse most rows into
    * one bucket and defeat both the range partitioning and the
    * data skipping. */
  def compactZOrder(fq: String, zorderCols: Seq[String],
      targetFileBytes: Long = 128L << 20, rankBased: Boolean = false): Unit = {
    require(zorderCols.nonEmpty, "zorder columns required")
    val s = snapshot(fq)
    // hive-partitioned tables z-cluster WITHIN partitions: the range
    // partitioning leads with the partition columns so each output
    // task holds a contiguous (partition, z) slice and the partitioned
    // write emits z-local files per partition directory
    val zpcols = s.partitionColumns
    require(!zorderCols.exists(zpcols.contains),
      "z-order columns must be data columns (partition pruning already " +
        "clusters the partition columns)")
    // bucketed layouts z-cluster WITHIN buckets — re-derive the
    // routing column (hidden from the logical read) so the range
    // partitioning below can lead with it
    val df = reroute(s, read(fq))
    val (bits, scaled): (Int, Seq[Column]) =
      if (rankBased) {
        val probs = (1 until 256).map(_ / 256.0).toArray
        // one distributed pass for every column's 255 cut points
        val bounds = df.stat.approxQuantile(zorderCols.toArray, probs, 0.001)
        (8, zorderCols.zipWithIndex.map { case (c, i) =>
          // bucket = #boundaries ≤ x: an O(256) codegen'd scan per row,
          // monotone even with repeated cut points
          val arr = array(bounds(i).map(lit): _*)
          aggregate(arr, lit(0L), (acc, b) =>
            acc + when(col(c).cast("double") >= b, lit(1L)).otherwise(lit(0L)))
        })
      } else {
        val statsRow = df.agg(
          lit(1).as("__one"),
          zorderCols.flatMap(c => Seq(
            min(col(c).cast("double")).as(s"__min_$c"),
            max(col(c).cast("double")).as(s"__max_$c"))): _*).head()
        val maxVal = (1 << 16) - 1
        (16, zorderCols.zipWithIndex.map { case (c, i) =>
          val lo = statsRow.getDouble(1 + 2 * i)
          val hi = statsRow.getDouble(2 + 2 * i)
          if (hi == lo) lit(0L)
          else least(lit(maxVal.toLong), greatest(lit(0L),
            floor((col(c).cast("double") - lo) / (hi - lo) * maxVal).cast("long")))
        })
      }
    val n = scaled.size
    val morton = (0 until bits).flatMap(b => scaled.zipWithIndex.map {
      case (s, i) => shiftleft(shiftright(s, b).bitwiseAND(lit(1L)), b * n + i)
    }).reduce(_.bitwiseOR(_))
    val bytes = s.files.map(_.bytes).sum
    val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val rangeCols = zpcols.map(col) :+ col("__z")
    val clustered = toPhysical(df.withColumn("__z", morton)
      .repartitionByRange(parts, rangeCols: _*)
      .sortWithinPartitions(rangeCols: _*)
      .drop("__z"), s.columnMapping)
    // same conflict RESOLUTION as compact: a z-order rewrite commutes
    // with concurrent blind appends (their delta rides by manifest,
    // un-clustered until the next cycle) — see [[commit]]
    commit(fq, Some(s), Some(s.readSet)) { (dir, head) =>
      clustered.write.mode(SaveMode.Overwrite)
        .partitionBy(zpcols: _*).parquet(dir.toString)
      writeLayout(s, dir)
      carryRebaseDelta(s, head.get, dir)
      writeCdcEmpty(fq, dir) // no row changes: the feed emits nothing
    }
  }

  // ---- per-file bloom index (point-lookup file skipping) ------------------
  // Min/max skipping ([[readBetween]]) only helps when the predicate
  // column is clustered — a point lookup on a high-cardinality UNSORTED
  // key overlaps every file's [min,max] and skips nothing. The bloom
  // index is the complementary structure (the Delta bloom-filter-index
  // / Iceberg puffin-blob idea): ~10 bits/row per indexed file answers
  // "definitely not in this file" BEFORE Spark plans the scan, so a
  // needle-in-the-table id probe schedules O(expected hits) files
  // instead of a task per file. Sidecars are advisory like `_STATS`:
  // a file without an entry is always read — never a correctness risk.

  // Bloom sidecars are CONTENT-VERSIONED: each rebuild writes
  // `_BLOOMS.<seq+1>` and deletes older generations, so the parse
  // cache's (path, kind, mtime, len) key is unique per content — an
  // in-place rewrite on a coarse-mtime filesystem could otherwise
  // serve stale bits, and a stale bloom wrongly SKIPS a file holding
  // the probed key (wrong results, not just perf). Plain `_BLOOMS`
  // (pre-versioning tables) reads as generation 0.
  // (bloom sidecar path is derived per-generation — see bloomFileOf)
  private def bloomSeqOf(p: Path): Int =
    if (p.getName == "_BLOOMS") 0
    else p.getName.stripPrefix("_BLOOMS.").toInt
  private def isBloomFile(p: Path): Boolean = p.getName == "_BLOOMS" ||
    (p.getName.startsWith("_BLOOMS.") && p.getName.stripPrefix("_BLOOMS.").forall(_.isDigit))
  /** The newest bloom generation in `dir`, looked up once per dir
    * status: writing a generation changes the dir's mtime. A stale
    * answer only ever names an older (identical or retired) sidecar,
    * which prunes less, never wrongly. */
  private def bloomFileOf(dir: Path): Option[Path] =
    TableCatalog.cachedValue(fs, dir, "bloomfile") {
      fs.listStatus(dir).filter(_.isFile).map(_.getPath)
        .filter(isBloomFile).maxByOption(bloomSeqOf)
    }.flatten

  /** Entries of a `_BLOOMS` sidecar: (file, column, bitset words). */
  private def bloomEntries(dir: Path): Seq[(String, String, Array[Long])] =
    bloomFileOf(dir).flatMap(p =>
      TableCatalog.cachedParse(fs, p, "blooms") { text =>
      text.split("\n").toSeq.filter(_.nonEmpty).map { ln =>
        val Array(f, c, b64) = ln.split("\t", 3)
        val bytes = java.util.Base64.getDecoder.decode(b64)
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val words = Array.ofDim[Long](bytes.length / 8)
        var i = 0
        while (i < words.length) { words(i) = bb.getLong(); i += 1 }
        (f, c, words)
      }
    }).getOrElse(Nil)

  /** Bloom bitsets on PHYSICAL `column` per file key, from the newest
    * `_BLOOMS` generation of each of `owners`. */
  private[catalog] def bloomsOf(owners: Seq[Path], column: String)
      : Map[String, Array[Long]] =
    owners.flatMap(bloomEntries)
      .collect { case (f, c, bits) if c == column => f -> bits }.toMap

  /** Build (incrementally) the per-file bloom index on `column` for the
    * live version's chain. Files already carrying an entry in their
    * owning version's sidecar are skipped, so steady-state cost after
    * an append is O(delta files). ONE Spark job with no shuffle stage
    * builds every missing file's bitset: each task sets the bits of the
    * rows it reads into one bitset per file (it parses a file's
    * `_metadata.file_path` when the path changes, not per row), and
    * the driver ORs the bitsets of a file split across tasks as task
    * results arrive (a bloom over a union of rows is the OR of the
    * blooms over its parts), holding one bitset per file. Bitsets are
    * sized from `_STATS` footer row counts at ~10 bits/row: a 1M-row
    * 128 MB file carries a ~1.25 MB sidecar entry, index-not-data
    * sized, which is why the per-file blooms may come back through the
    * driver. Each task returns a full-size bitset for every file it
    * touched, even one it read only a few row groups of, so the task
    * results (counted against `spark.driver.maxResultSize`) total up to
    * (tasks per file) x (bitset size) per file, where a single collect
    * of finished blooms sent one bitset per file; the driver still
    * holds one bitset per file. Returns the number of files indexed by
    * this call. */
  def buildBloomIndex(fq: String, column: String): Int = {
    val s = snapshot(fq)
    require(!s.partitionColumns.contains(column),
      s"$column is a partition column — partition pruning already " +
        "answers its point lookups exactly")
    // the index keys by PHYSICAL name (what the data files carry) —
    // probes translate the same way, so renames never stale the index
    val colPhys = s.columnMapping.physical(column)
    val have = s.blooms(colPhys).keySet
    val missing = s.chain.filterNot(f => have(f.key))
    if (missing.isEmpty) return 0
    val wordsOf: Map[String, Int] = missing.map { f =>
      val n = f.rows.getOrElse(1L << 16)
      var m = 1024L
      while (m < n * 10) m <<= 1
      f.key -> (m / 64).toInt
    }.toMap
    val rows = readPhysical(s, missing,
        _.select(col("_metadata.file_path"),
          xxhash64(col(colPhys).cast("string"))))
      .queryExecution.toRdd
    val built = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    spark.sparkContext.runJob(rows,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        TableCatalog.bloomPartials(it, wordsOf),
      (_: Int, part: Map[String, Array[Long]]) => part.foreach { case (f, bits) =>
        built.get(f) match { // a file split across tasks: OR its parts
          case Some(acc) => bits.indices.foreach(i => acc(i) |= bits(i))
          case None => built(f) = bits
        }
      })
    built.toSeq.groupBy { case (f, _) => versionAncestor(new Path(f)) }
      .foreach { case (dir, entries) =>
        val rebuilt = entries.map(_._1).toSet
        val keep = bloomEntries(dir).filterNot { case (f, c, _) =>
          c == colPhys && rebuilt(f) }
        val all = keep ++ entries.map { case (f, b) => (f, colPhys, b) }
        val lines = all.sortBy(t => (t._1, t._2)).map { case (f, c, bits) =>
          val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
          bits.foreach(bb.putLong)
          s"$f\t$c\t${java.util.Base64.getEncoder.encodeToString(bb.array())}"
        }
        // next GENERATION, then retire older ones: the sidecar parse
        // cache keys by path, so a rebuild must land at a fresh name
        val prior = bloomFileOf(dir)
        val gen = prior.map(bloomSeqOf).getOrElse(-1) + 1
        val out = fs.create(new Path(dir, s"_BLOOMS.$gen"), true)
        try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
        fs.listStatus(dir).filter(_.isFile).map(_.getPath)
          .filter(p => isBloomFile(p) && bloomSeqOf(p) < gen)
          .foreach(fs.delete(_, false))
      }
    missing.length
  }

  // ---- zero-copy shallow clone --------------------------------------------

  /** SHALLOW CLONE (the Delta-style zero-copy table copy): the clone's
    * v0 carries the source version's data files, DV masks — and,
    * transitively, the `_STATS`/`_BLOOMS` sidecars resident next to
    * those files — BY REFERENCE. O(metadata): no data bytes move, which
    * at 100 TB is the difference between an instant dev/test fork and a
    * day of copying. Source and clone then evolve independently:
    * files are immutable and every commit is COW/MoR, so mutations on
    * either side can never leak into the other (snapshot isolation by
    * construction). `version` picks a time-travel clone.
    *
    * Same referential caveat as Delta shallow clones: the clone pins
    * NAMES, not bytes — `vacuum`/`drop` on the SOURCE can retire files
    * a clone still references. Promote with [[compact]] on the clone
    * (which materializes referenced data into its own files) before
    * retiring the source. */
  def cloneTable(src: String, dst: String, version: Option[Int] = None): Unit = {
    val v = version.orElse(currentVersion(src)).getOrElse(
      throw new IllegalArgumentException(s"table not found: $src"))
    require(currentVersion(dst).isEmpty, s"clone target exists: $dst")
    // the clone's v0 lists the source's files explicitly (a reference
    // chain cannot cross tables) and keeps its layout
    val s = snapshot(src, v)
    commit(dst, liveSnapshot(dst), None) { (dir, _) =>
      fs.mkdirs(dir)
      writeLayout(s, dir)
      writeManifest(dir, s.chain.map(f => new Path(f.path)))
      if (s.dvFiles.nonEmpty) writeDvManifest(dir, s.dvFiles)
      // schema actions (declared columns, renames, drops) at or below
      // the cloned version travel with the clone — its files carry the
      // source's PHYSICAL names, so the mapping must ride along. The
      // clone's history RESTARTS at v0, so every carried action is
      // re-declared at version 0 (actions the source declared AFTER
      // the cloned version stay behind).
      val sd = schemasDir(src)
      if (fs.exists(sd)) {
        val carriedActions = fs.listStatus(sd).filter(_.isFile)
          .map(_.getPath).sortBy(_.getName).filter { p =>
            p.getName match {
              case ActionName(ver, _, _) => ver.toInt <= v
              case LegacyActionName(_)   => true
              case _ => false
            }
          }
        if (carriedActions.nonEmpty) {
          val dd = schemasDir(dst)
          fs.mkdirs(dd)
          carriedActions.zipWithIndex.foreach { case (p, i) =>
            val kind = p.getName match {
              case ActionName(_, _, k) => k
              case _ => "add.json"
            }
            val in = fs.open(p)
            val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
            finally in.close()
            val out = fs.create(
              new Path(dd, f"v000000_$i%06d.$kind"), true)
            try out.write(bytes) finally out.close()
          }
        }
      }
    }
  }

  // ---- incremental change data feed ---------------------------------------

  /** Row-level changes between two committed versions, computed from
    * the MANIFEST DIFF — cost scales with the files that changed, not
    * the table ([[graft.operators.Cdc.versionDiff]] re-reads both full
    * snapshots; at 100 TB a ten-file append must not scan 100 TB).
    * Files added by `toV` contribute candidate inserts (masked by
    * `toV`'s deletion vectors), files dropped contribute candidate
    * deletes (masked by `fromV`'s), and rows newly masked by DVs in
    * SURVIVING files contribute deletes read from just the files those
    * masks address — DV sidecar files are immutable and accumulative,
    * so "new masks" is a file-set diff, no row-level reconciliation.
    * A rewrite (COW update, compact) shows as drop+add of the rewritten
    * files; rows carried through unchanged appear in both candidate
    * sets and the final exceptAll nets them out, so the feed is exactly
    * the full-snapshot EXCEPT ALL diff while only scanning changed
    * files. Output: the table's columns plus `_change_type`
    * ('insert' | 'delete'). */
  def readChanges(fq: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val toSchema = readVersion(fq, toV).schema
      .filterNot(_.name == "_change_type")
    val cols = toSchema.map(f => col(f.name))
    val (a, b) = (snapshot(fq, fromV), snapshot(fq, toV))
    val mTo = b.columnMapping
    // candidate frames are RAW file scans: surface them under the
    // logical view and fill declared columns older files don't carry
    def align(df: DataFrame): DataFrame = {
      val l = toLogical(df, mTo)
      val have = l.columns.map(_.toLowerCase).toSet
      toSchema.filterNot(f => have(f.name.toLowerCase))
        .foldLeft(l)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    }
    def tag(df: DataFrame, t: String) =
      align(df).select(cols: _*).withColumn("_change_type", lit(t))
    val added = b.chain.filterNot(f => a.byKey.contains(f.key))
    val removed = a.chain.filterNot(f => b.byKey.contains(f.key))
    val dvNew = b.dvFiles.filterNot(p => a.dvKeys(p.toUri.getPath))
    val survivorDeletes: Option[DataFrame] =
      if (dvNew.isEmpty) None
      else {
        val mask = readDvMask(dvNew)
        // the address list is metadata-sized (distinct file names)
        val hitFiles = mask.select("file").distinct().collect()
          .map(_.getString(0)).toSeq
          .flatMap(f => b.byKey.get(new Path(f).toUri.getPath)) // removed files net elsewhere
        if (hitFiles.isEmpty) None
        else Some(readPhysical(b, hitFiles, withRowPos)
          .join(mask, col("__fp") === mask("file") &&
            col("__ri") === mask("row_index"), "left_semi")
          .drop("__fp", "__ri"))
      }
    val candIns =
      if (added.isEmpty) None
      else Some(readMasked(b, added))
    val removedDeletes =
      if (removed.isEmpty) None
      else Some(readMasked(a, removed))
    val candDel = (removedDeletes.toSeq ++ survivorDeletes.toSeq)
      .map(d => align(d).select(cols: _*)).reduceOption(_.unionByName(_))
    (candIns, candDel) match {
      case (None, None) => tag(readVersion(fq, toV), "insert").limit(0)
      case (Some(i), None) => tag(i, "insert")
      case (None, Some(d)) => tag(d, "delete")
      case (Some(i), Some(d)) =>
        val ip = align(i).select(cols: _*)
        tag(ip.exceptAll(d), "insert").unionByName(tag(d.exceptAll(ip), "delete"))
    }
  }

  /** Glob over every version directory of an UNPARTITIONED append-only
    * table — the streamable view of its data files. O(delta) appends
    * mean each version dir holds only its own new files, so a
    * file-source stream over `v_*` sees every row exactly once (the
    * checkpoint dedupes across restarts). Only valid while the table is
    * maintained append-only: an update/merge rewrite would re-emit
    * rewritten rows into the stream. */
  def versionGlob(fq: String): String = new Path(tableDir(fq), "v_*").toString

  // ---- DataSource V2 connector surface (graft.connector) ------------------
  // The connector plans against [[snapshot]] on the DRIVER
  // (metadata-sized IO, the cost profile of Delta reading its commit
  // log) and ships only per-file work to executors.

  /** Is the version dir still on disk (not pruned/vacuumed)? The
    * streaming source's per-commit walk needs this to distinguish "no
    * diff to compute" from "commit retired". */
  private[graft] def versionRetained(fq: String, v: Int): Boolean =
    fs.exists(versionDir(fq, v))

  /** Footer schema of one representative data file, cached by file
    * status (files are immutable) — the unpartitioned chain-schema
    * union reads each version's footer ONCE process-wide.
    *
    * Read DIRECTLY from the footer (one metadata IO) instead of
    * `spark.read.parquet(path).schema`: the DataFrameReader route runs
    * a file-listing pass plus a one-task `mergeSchemasInParallel`
    * Spark JOB per uncached footer — pure fixed cost on the driver's
    * planning path. The conversion uses Spark's own
    * ParquetToSparkSchemaConverter built from this session's SQLConf,
    * so type mapping (nanosAsLong, timestampNTZ inference, binary-as-
    * string…) is identical to what the reader would infer; `asNullable`
    * matches the file-source contract (read schemas are nullable). */
  private[graft] def footerSchemaOf(path: String)
      : org.apache.spark.sql.types.StructType =
    TableCatalog.cachedValue(fs, new Path(path), "footer") {
      directFooterSchema(path)
    }.getOrElse(directFooterSchema(path))

  private def directFooterSchema(path: String)
      : org.apache.spark.sql.types.StructType =
    sparkSchemaOf(graft.connector.GraftParquetIO.fileSchema(path,
      spark.sparkContext.hadoopConfiguration))

  private def sparkSchemaOf(msg: org.apache.parquet.schema.MessageType)
      : org.apache.spark.sql.types.StructType = {
    val st = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(spark.sessionState.conf)
      .convert(msg)
    TableCatalog.allNullable(st).asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Byte sizes of `files` by key — the connector's size estimate,
    * task sizing and the planner's broadcast decisions. One
    * `listStatus` per PARENT DIRECTORY (not a HEAD per file — on an
    * object store a 10k-file chain is 10k fewer RPCs). */
  private[catalog] def fileSizes(files: Seq[DataFile]): Map[String, Long] = {
    val wanted = files.map(_.key).toSet
    files.map(f => new Path(f.path).getParent).distinct.flatMap { dir =>
      fs.listStatus(dir).filter(_.isFile).toSeq.flatMap { st =>
        val key = keyOf(st.getPath)
        if (wanted(key)) Some(key -> st.getLen) else None
      }
    }.toMap
  }

  /** DSv2 write path: adopt executor-staged parquet files as a new
    * committed version. `staged` pairs each file with its path relative
    * to the version dir — its bare name for a flat layout, its hive
    * location (`p=v/part-…`) under `pcols`. Files are MOVED (rename,
    * O(files) metadata ops), never copied. Append requires the live
    * layout to match and carries the prior chain (outstanding DV masks
    * stay valid: their files ride unmodified); overwrite starts a fresh
    * chain. */
  private[graft] def commitStaged(fq: String, staged: Seq[(Path, String)],
      pcols: Seq[String], overwrite: Boolean, epochTag: Option[String] = None,
      bucketSpec: Option[(String, Int)] = None,
      replaceTable: Boolean = false): Unit = {
    require(staged.nonEmpty, s"no data files staged for $fq")
    def requireLayout(s: Snapshot): Snapshot = {
      require(s.partitionColumns == pcols,
        s"append layout [${pcols.mkString(",")}] does not match table " +
          s"layout [${s.partitionColumns.mkString(",")}] of $fq")
      s
    }
    val prior = liveSnapshot(fq)
    if (!overwrite) prior.foreach(requireLayout)
    // staged appends are BLIND appends: rebase across winners
    commit(fq, prior, if (overwrite) None else Some((Nil, Nil))) { (dir, head) =>
      adoptStaged(dir, staged)
      head.filter(_ => !overwrite) match {
        // O(delta): one reference line per epoch/commit — a streaming
        // sink must not rewrite O(live files) of manifest per epoch;
        // every Nth epoch checkpoints so cold reads stay O(interval)
        case Some(h) => carryChain(requireLayout(h), dir)
        case None => writePartitions(dir, pcols)
      }
      if (overwrite) resetSchemaActions(fq, dir, carryConstraints = !replaceTable)
      bucketSpec.foreach { case (c, n) => writeBucketSpec(dir, c, n) }
      // streaming-sink idempotency: the epoch tag commits ATOMICALLY
      // with the version (inside the write, before the pointer swap) —
      // a replayed epoch finds its tag and skips
      epochTag.foreach { tag =>
        val out = fs.create(new Path(dir, "_EPOCH"), true)
        try out.write(tag.getBytes("UTF-8")) finally out.close()
      }
    }
    // durable replay marker OUTSIDE the version dirs: vacuum/maintain
    // prunes version dirs (and their in-dir `_EPOCH` tags) but must
    // never void sink idempotency — the table-level `_EPOCHS/` marker
    // survives any retention policy. Created AFTER the commit: a crash
    // in between leaves the in-dir tag covering the replay (the pruner
    // cannot have run from the crashed process), so the two layers
    // never both miss.
    epochTag.foreach { tag =>
      val d = epochsDir(fq)
      fs.mkdirs(d)
      fs.create(new Path(d, encodeEpochTag(tag)), true).close()
    }
  }

  private def epochsDir(fq: String) = new Path(tableDir(fq), "_EPOCHS")

  /** Epoch tags hold a free-form queryId:epochId — filename-encode. */
  private def encodeEpochTag(tag: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(tag.getBytes("UTF-8"))

  private def decodeEpochTag(name: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(name), "UTF-8")

  // ---- declared schema extensions + COLUMN MAPPING (_SCHEMAS/) -----------
  // ALTER TABLE ADD / RENAME / DROP COLUMN are METADATA commits,
  // recorded as append-only action files in the table-level `_SCHEMAS/`
  // sidecar (vacuum-proof, like `_EPOCHS/`). Files are named
  // `v<declaringVersion>_<seq>.<kind>` and readers fold only actions
  // declared AT OR BELOW the version being read — time travel sees the
  // schema of its day, and an ALTER that crashed after the sidecar
  // write but before the pointer swap declares at a version that never
  // committed and stays invisible. Kinds:
  //  - `add.json`  — StructType JSON; a field's metadata may carry
  //    "graft.physical" = the parquet column name backing it (a FRESH
  //    physical when the logical name was used before: re-adding a
  //    dropped name must not resurrect old bytes);
  //  - `rename`    — `<physical>\t<newLogicalName>`: logical-only
  //    rename, zero data rewritten (Delta's column-mapping name mode
  //    — at 100 TB a rename MUST NOT touch data);
  //  - `drop`      — `<physical>`: the column leaves the logical
  //    schema; its bytes persist in old files until a rewrite
  //    (compaction physically retires them — the erasure clock);
  //  - `reset`     — an OVERWRITE started a fresh chain whose files
  //    carry the caller's names: prior actions no longer apply.
  // Reads remap physical→logical; writes remap logical→physical.
  // Partition and bucket-source columns cannot rename or drop — their
  // names are burned into paths and layout specs. Legacy `NNNNNN.json`
  // files (pre-versioning) read as adds declared at version 0.

  private def schemasDir(fq: String) = new Path(tableDir(fq), "_SCHEMAS")

  /** All schema actions in declaration order (filename order — legacy
    * adds sort first: digits < 'v'). Immutable files parse once
    * process-wide. */
  private[catalog] def schemaActions(fq: String): Seq[SchemaAction] = {
    val d = schemasDir(fq)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).filter(_.isFile).map(_.getPath).sortBy(_.getName)
      .toSeq.flatMap { p =>
        def parse(kind: String, ver: Int): Option[SchemaAction] =
          TableCatalog.cachedParse(fs, p, "schemaAction") { text =>
            kind match {
              case "add.json" => AddAction(ver,
                org.apache.spark.sql.types.DataType.fromJson(text)
                  .asInstanceOf[org.apache.spark.sql.types.StructType]
                  .fields.toSeq)
              case "rename" =>
                val Array(ph, to) = text.split("\t", 2): @unchecked
                RenameAction(ver, ph, to)
              case "drop" => DropAction(ver, text.trim)
              case "addnn" =>
                val Array(nm, ph) = text.split("\t", 2): @unchecked
                ConstraintAddAction(ver, nm, "notnull", ph)
              case "addck" =>
                val Array(nm, ex) = text.split("\t", 2): @unchecked
                ConstraintAddAction(ver, nm, "check", ex)
              case "dropct" => ConstraintDropAction(ver, text.trim)
              case _ => ResetAction(ver)
            }
          }
        p.getName match {
          case ActionName(ver, _, kind) => parse(kind, ver.toInt)
          case LegacyActionName(_)      => parse("add.json", 0)
          case _ => None
        }
      }
  }

  /** A logical frame plus the declared (ALTER ADD COLUMNS) columns no
    * file carries yet, as typed nulls. */
  private def withDeclared(df: DataFrame,
      m: TableCatalog.ColumnMapping): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    m.adds.map(_._2).filterNot(f => have(f.name.toLowerCase))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Physical→logical view of a frame: hidden (dropped) physicals
    * removed, renamed physicals exposed under their logical names.
    * Columns outside the mapping (`__fp`/`__ri`, routing, probe
    * columns) pass through untouched. */
  private def toLogical(df: DataFrame,
      m: TableCatalog.ColumnMapping): DataFrame =
    if (m.isIdentity) df
    else {
      // ONE projection, not a withColumnRenamed fold: a swap-shaped
      // mapping (physical a→logical b, physical b→logical a) makes a
      // sequential fold collide — the first rename creates a duplicate
      // of a name still live as a physical, and the second renames
      // BOTH. A single select aliases every column independently.
      import org.apache.spark.sql.functions.{col => fcol}
      val cols = df.columns.toSeq.collect {
        case c if !m.dropped.contains(c) =>
          fcol(s"`$c`").as(m.logicalOf.getOrElse(c, c))
      }
      df.select(cols: _*)
    }

  /** Logical→physical — the write-side inverse of [[toLogical]]:
    * every data file always carries PHYSICAL names. Same
    * single-projection shape (swap-safe). */
  private def toPhysical(df: DataFrame,
      m: TableCatalog.ColumnMapping): DataFrame =
    if (m.isIdentity) df
    else {
      import org.apache.spark.sql.functions.{col => fcol}
      df.select(df.columns.toSeq.map { c =>
        fcol(s"`$c`").as(m.physicalOf.getOrElse(c, c))
      }: _*)
    }

  private def writeSchemaAction(fq: String, declaringVersion: Int,
      kind: String, content: String): Unit = {
    val d = schemasDir(fq)
    fs.mkdirs(d)
    val seq = fs.listStatus(d).count(_.isFile)
    val out = fs.create(
      new Path(d, f"v$declaringVersion%06d_$seq%06d.$kind"), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** An OVERWRITE starts a fresh chain whose files carry the caller's
    * own column names — void any prior mapping/declaration state from
    * this version on (earlier versions keep theirs: actions are
    * version-scoped). Called INSIDE the overwrite's commit lambda. */
  private def resetSchemaActions(fq: String, dir: Path): Unit =
    if (schemaActions(fq).nonEmpty)
      writeSchemaAction(fq, dir.getName.stripPrefix("v_").toInt, "reset", "")

  /** Reset for a DATA overwrite: mapping/declaration state voids like
    * [[resetSchemaActions]], but the table's CONSTRAINTS survive —
    * Delta's semantics: NOT NULL/CHECK ride data-only rewrites, and
    * the replacement rows are enforced against them. The active set is
    * re-declared on the fresh chain with NOT NULL args translated to
    * the new chain's physical (= the prior chain's logical) names.
    * Explicit schema-replacing operations (REPLACE TABLE) pass
    * carryConstraints = false and drop them with the rest. */
  private def resetSchemaActions(fq: String, dir: Path,
      carryConstraints: Boolean): Unit = {
    val carried: Seq[TableCatalog.Constraint] =
      if (!carryConstraints) Nil
      else currentVersion(fq).map { pv =>
        val s = snapshot(fq, pv)
        s.constraints.map(c =>
          if (c.kind == "notnull")
            c.copy(arg = s.columnMapping.logicalOf.getOrElse(c.arg, c.arg))
          else c)
      }.getOrElse(Nil)
    resetSchemaActions(fq, dir)
    val nv = dir.getName.stripPrefix("v_").toInt
    carried.foreach(c => writeSchemaAction(fq, nv,
      if (c.kind == "notnull") "addnn" else "addck", s"${c.name}\t${c.arg}"))
  }

  /** Replacement rows of a DATA overwrite enforce the table's
    * surviving constraints per row (same in-write raise_error shape as
    * appends). A CHECK that no longer resolves against the replacement
    * schema rejects loudly at plan time instead of erasing silently. */
  private def enforceOnOverwrite(fq: String, df: DataFrame): DataFrame =
    currentVersion(fq) match {
      case None => df
      case Some(v) =>
        val s = snapshot(fq, v)
        val cs = s.constraints
        if (cs.isEmpty) df
        else {
          cs.filter(_.kind == "check").foreach { c =>
            try df.limit(0)
              .filter(org.apache.spark.sql.functions.expr(c.arg))
              .queryExecution.analyzed
            catch { case e: org.apache.spark.sql.AnalysisException =>
              throw new IllegalArgumentException(
                s"overwrite of $fq: CHECK constraint ${c.name} (${c.arg}) " +
                  "does not resolve against the replacement schema — " +
                  "drop the constraint first (alterDropConstraint)", e) }
          }
          enforceConstraints(s, df)
        }
    }

  /** Metadata-only commit: carry the whole chain (data, DVs, layout)
    * unchanged; `extra(newVersion)` rides atomically with it. */
  private def commitMetadata(s: Snapshot)(extra: Int => Unit): Unit =
    commit(s.fq, Some(s), None) { (dir, _) =>
      fs.mkdirs(dir)
      carryChain(s, dir)
      extra(s.version + 1)
    }

  /** ALTER TABLE ADD COLUMNS: declare new nullable columns without
    * touching a data byte — existing rows read them as NULL, the next
    * append may carry them (the SQL face of [[appendEvolving]]).
    * Same-name columns (footer or declared) are rejected. A logical
    * name that was EVER used as a physical in this chain (a dropped
    * column, a rename source) gets a fresh physical name — re-adding
    * must not resurrect old data. */
  def alterAddColumns(fq: String,
      cols: org.apache.spark.sql.types.StructType): Unit = {
    require(cols.nonEmpty, "no columns to add")
    val s = snapshot(fq)
    val existing = s.schema.fieldNames.map(_.toLowerCase).toSet
    cols.fields.foreach(f => require(!existing(f.name.toLowerCase),
      s"column ${f.name} already exists in $fq"))
    val m = s.columnMapping
    val usedPhysicals: Set[String] =
      (s.physicalSchema.fieldNames.toSeq ++ m.dropped ++ m.adds.map(_._1) ++
        m.logicalOf.keys).map(_.toLowerCase).toSet
    val next = s.version + 1
    val tagged = cols.fields.map { f =>
      if (!usedPhysicals(f.name.toLowerCase)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(TableCatalog.PhysicalKey, f"${f.name}_g$next%06d")
        .build())
    }
    commitMetadata(s)(nv => writeSchemaAction(fq, nv, "add.json",
      org.apache.spark.sql.types.StructType(tagged).json))
  }

  /** ALTER TABLE RENAME COLUMN — pure metadata, zero bytes rewritten:
    * reads remap the old files' physical name to the new logical name
    * (Delta column-mapping name mode). Partition and bucket-source
    * columns are rejected (path- and spec-encoded). */
  def alterRenameColumn(fq: String, from: String, to: String): Unit = {
    val s = snapshot(fq)
    val schema = s.schema
    val actual = schema.fieldNames.find(_.equalsIgnoreCase(from)).getOrElse(
      throw new IllegalArgumentException(s"column $from does not exist in $fq"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $to already exists in $fq")
    require(!s.partitionColumns.exists(_.equalsIgnoreCase(from)),
      s"cannot rename partition column $from (path-encoded)")
    s.bucketSpec.foreach { case (c, _) =>
      require(!c.equalsIgnoreCase(from),
        s"cannot rename bucket source column $from (layout-encoded)") }
    val m0 = s.columnMapping
    s.constraints.filter(_.kind == "check").foreach { c =>
      require(!constraintMentions(c, actual, m0),
        s"cannot rename $from: CHECK constraint ${c.name} references it — " +
          "drop the constraint first (alterDropConstraint)") }
    val phys = m0.physical(actual)
    commitMetadata(s)(nv =>
      writeSchemaAction(fq, nv, "rename", s"$phys\t$to"))
  }

  /** ALTER TABLE DROP COLUMN(S) — pure metadata: the columns leave the
    * logical schema immediately; their bytes persist in existing files
    * until a rewrite (compaction reads the logical view, so it
    * physically retires them). */
  def alterDropColumns(fq: String, names: Seq[String]): Unit = {
    require(names.nonEmpty, "no columns to drop")
    val s = snapshot(fq)
    val schema = s.schema
    val actuals = names.map(n =>
      schema.fieldNames.find(_.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(s"column $n does not exist in $fq")))
    require(schema.fieldNames.length > actuals.length,
      s"cannot drop every column of $fq")
    actuals.foreach { n =>
      require(!s.partitionColumns.exists(_.equalsIgnoreCase(n)),
        s"cannot drop partition column $n (path-encoded)")
      s.bucketSpec.foreach { case (c, _) =>
        require(!c.equalsIgnoreCase(n),
          s"cannot drop bucket source column $n (layout-encoded)") }
    }
    val m = s.columnMapping
    s.constraints.foreach { c =>
      actuals.foreach { n =>
        require(!constraintMentions(c, n, m),
          s"cannot drop column $n: constraint ${c.name} references it — " +
            s"drop the constraint first (alterDropConstraint)") }
    }
    commitMetadata(s)(nv =>
      actuals.foreach(n => writeSchemaAction(fq, nv, "drop", m.physical(n))))
  }

  // ---- table CONSTRAINTS (NOT NULL / CHECK) -------------------------------
  // Stored as `_SCHEMAS/` actions (version-scoped, vacuum-proof,
  // overwrite-reset — exactly the column-mapping machinery), enforced
  // per row INSIDE the write pass (a raise_error branch grafted onto a
  // written column — no second validation scan; Delta's invariant
  // shape). NOT NULL binds to the PHYSICAL name so it survives
  // renames; CHECK text references LOGICAL names, so renames/drops of
  // referenced columns are rejected until the constraint is dropped.

  /** Does constraint `c` reference LOGICAL column `logical`? NOT NULL
    * compares through the mapping; CHECK matches the identifier in the
    * expression text (word-boundary, case-insensitive — conservative:
    * a false positive only makes a rename/drop ask for an explicit
    * constraint drop first). */
  private def constraintMentions(c: TableCatalog.Constraint,
      logical: String, m: TableCatalog.ColumnMapping): Boolean =
    c.kind match {
      case "notnull" =>
        m.logicalOf.getOrElse(c.arg, c.arg).equalsIgnoreCase(logical)
      case _ => // backtick IS a boundary on both sides: it is exactly
        // how a quoted reference begins/ends (`price` >= 0)
        ("(?i)(^|[^A-Za-z0-9_])" +
        java.util.regex.Pattern.quote(logical) + "($|[^A-Za-z0-9_])").r
        .findFirstIn(c.arg).isDefined
    }

  /** ALTER TABLE ALTER COLUMN SET NOT NULL: existing rows must already
    * satisfy it (one validation scan at DDL time); subsequent writes
    * enforce per row. */
  def alterAddNotNull(fq: String, column: String): Unit = {
    val s = snapshot(fq)
    val actual = s.schema.fieldNames.find(_.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"column $column does not exist in $fq"))
    val name = s"nn_${actual.toLowerCase}"
    val phys = s.columnMapping.physical(actual)
    // dedupe by PHYSICAL column, not by name: a constraint created
    // before a rename keeps its creation-time slug (nn_<oldname>) but
    // still binds this column — re-adding would stack a duplicate
    s.constraints
      .find(c => c.kind == "notnull" && c.arg.equalsIgnoreCase(phys))
      .foreach(c => throw new IllegalArgumentException(
        s"NOT NULL already enforced on $fq.$actual (constraint ${c.name})"))
    require(!s.constraints.exists(_.name == name),
      s"constraint $name already exists on $fq")
    require(read(fq).filter(col(s"`$actual`").isNull).limit(1).count() == 0,
      s"cannot add NOT NULL on $fq.$actual: existing rows hold nulls")
    commitMetadata(s)(nv =>
      writeSchemaAction(fq, nv, "addnn", s"$name\t$phys"))
  }

  /** ALTER TABLE ADD CONSTRAINT name CHECK (expr): `expr` is a SQL
    * boolean over the table's LOGICAL columns; rows where it evaluates
    * FALSE are rejected (NULL = unknown passes — SQL semantics).
    * Existing rows are validated once at DDL time. */
  def alterAddCheck(fq: String, name: String, expr: String): Unit = {
    val s = snapshot(fq)
    require(!s.constraints.exists(_.name == name),
      s"constraint $name already exists on $fq")
    val violated = read(fq)
      .filter(org.apache.spark.sql.functions.expr(expr) === lit(false))
      .limit(1).count()
    require(violated == 0,
      s"cannot add CHECK $name on $fq: existing rows violate ($expr)")
    commitMetadata(s)(nv =>
      writeSchemaAction(fq, nv, "addck", s"$name\t$expr"))
  }

  /** Newest RETAINED version committed at or before `cutoffMs` —
    * commit clock = earliest mtime among the version dir and its
    * commit-written sidecars (a later buildBloomIndex adds `_BLOOMS`
    * into OLD dirs and bumps the dir mtime, so the dir alone would
    * mis-date them). Vacuumed versions are not resolvable (Delta). */
  private[graft] def versionAtMillis(fq: String, cutoffMs: Long): Int = {
    require(exists(fq), s"table not found: $fq")
    def commitMs(st: org.apache.hadoop.fs.FileStatus): Long = {
      val sidecars = Seq("_MANIFEST", "_STATS")
        .map(n => new Path(st.getPath, n)).filter(fs.exists(_))
        .map(p => fs.getFileStatus(p).getModificationTime)
      (st.getModificationTime +: sidecars).min
    }
    val candidates = fs.listStatus(tableDir(fq)).filter(_.isDirectory)
      .filter(_.getPath.getName.matches("v_\\d{6}"))
      .map(st => (st.getPath.getName.stripPrefix("v_").toInt, commitMs(st)))
      .filter(_._2 <= cutoffMs)
    require(candidates.nonEmpty,
      s"$fq has no retained version committed at or before epoch-ms $cutoffMs")
    candidates.map(_._1).max
  }

  /** Delta-style `timestampAsOf` ergonomics: all-digits = micros since
    * epoch; otherwise an ISO-8601 date (`2026-01-01`) or timestamp
    * (`2026-01-01 12:00:00` / `...T12:00:00`), interpreted in the
    * session timezone. */
  private[graft] def versionAsOfTimestamp(fq: String, spec: String): Int = {
    val s0 = spec.trim
    val ms =
      if (s0.matches("-?\\d+")) Math.floorDiv(s0.toLong, 1000L)
      else {
        val zone = java.time.ZoneId.of(spark.sessionState.conf
          .sessionLocalTimeZone)
        val iso = s0.replace(' ', 'T')
        val ldt =
          if (iso.contains("T")) java.time.LocalDateTime.parse(iso)
          else java.time.LocalDate.parse(iso).atStartOfDay()
        ldt.atZone(zone).toInstant.toEpochMilli
      }
    versionAtMillis(fq, ms)
  }

  /** The NOT NULL constraint bound to LOGICAL column `column`, if
    * any, resolved through the column mapping: the constraint's name
    * slug is frozen at creation time, so after a rename a DROP NOT
    * NULL must resolve by PHYSICAL binding — reconstructing
    * `nn_<currentname>` would find nothing and silently no-op. */
  private[graft] def notNullConstraintOf(fq: String, column: String)
      : Option[TableCatalog.Constraint] =
    currentVersion(fq).flatMap { v =>
      val s = snapshot(fq, v)
      val actual = s.schema.fieldNames
        .find(_.equalsIgnoreCase(column)).getOrElse(column)
      val phys = s.columnMapping.physical(actual)
      s.constraints.find(c =>
        c.kind == "notnull" && c.arg.equalsIgnoreCase(phys))
    }

  def alterDropConstraint(fq: String, name: String): Unit = {
    val s = snapshot(fq)
    require(s.constraints.exists(_.name == name),
      s"no constraint $name on $fq")
    commitMetadata(s)(nv => writeSchemaAction(fq, nv, "dropct", name))
  }

  /** Wraps a LOGICAL-named frame so that WRITING it evaluates every
    * constraint per row inside the write pass itself: each enforced
    * column's value routes through a `when(violation, raise_error)`
    * branch — the value is written, so column pruning cannot elide the
    * check, and no second validation scan runs. */
  private def enforceConstraints(s: Snapshot, df: DataFrame): DataFrame = {
    val (fq, cs, m) = (s.fq, s.constraints, s.columnMapping)
    if (cs.isEmpty) return df
    cs.foldLeft(df) { (acc, c) =>
      c.kind match {
        case "notnull" =>
          val logical = m.logicalOf.getOrElse(c.arg, c.arg)
          acc.columns.find(_.equalsIgnoreCase(logical)) match {
            case Some(cn) =>
              val t = acc.schema(cn).dataType
              acc.withColumn(cn, when(col(s"`$cn`").isNull,
                raise_error(lit(s"NOT NULL constraint ${c.name} violated: " +
                  s"$fq.$logical is null")).cast(t))
                .otherwise(col(s"`$cn`")))
            case None => throw new IllegalArgumentException(
              s"write to $fq must carry NOT NULL column $logical")
          }
        case _ => // check: anchor on the first column so the branch is
          // evaluated for every written row
          val anchor = acc.columns.head
          val t = acc.schema(anchor).dataType
          acc.withColumn(anchor,
            when(org.apache.spark.sql.functions.expr(c.arg) === lit(false),
              raise_error(lit(s"CHECK constraint ${c.name} violated " +
                s"(${c.arg})")).cast(t))
            .otherwise(col(s"`$anchor`")))
      }
    }
  }

  /** DSv2 EMPTY write (zero staged files): still commits a version —
    * Delta's contract, and the asymmetry the old no-op/throw behavior
    * had (empty INSERT INTO silently skipped, empty CTAS/overwrite
    * threw, empty overwrite of a partitioned table inexpressible).
    * Append carries the prior chain unchanged; overwrite (or first
    * write) materializes a zero-row parquet file holding the full
    * schema (partition columns INLINE, exactly [[truncate]]'s shape —
    * partition discovery cannot type path-encoded columns that have no
    * paths). */
  private[graft] def commitEmptyVersion(fq: String,
      schema: org.apache.spark.sql.types.StructType, overwrite: Boolean,
      pcols: Seq[String], bucketSpec: Option[(String, Int)] = None,
      replaceTable: Boolean = false,
      checks: Seq[(String, String)] = Nil): Unit = {
    // CREATE TABLE ... CHECK: the constraints commit ATOMICALLY with
    // the schema-only v0 — recording them in separate commits would
    // leave a crash window where the table exists unconstrained.
    // Resolution validates here (driver, before any commit).
    checks.foreach { case (nm, ex) =>
      try spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .filter(org.apache.spark.sql.functions.expr(ex))
        .queryExecution.analyzed
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"CREATE TABLE $fq: CHECK constraint $nm ($ex) does not " +
            "resolve against the declared schema", e) }
    }
    val prior = if (overwrite) None else currentVersion(fq)
    prior match {
      case Some(v) => // empty append: carry everything forward
        commitMetadata(snapshot(fq, v))(_ => ())
      case None => // overwrite/create: schema-only zero-row version
        val empty = spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        commit(fq, liveSnapshot(fq), None) { (dir, head) =>
          // bucketed layouts: the marker lands INSIDE a bucket dir so
          // every chain scan sees the same column set (the routing
          // column is path-typed on data files; a rootless marker
          // would union 4-vs-5 columns in the partitioned read)
          val target = bucketSpec
            .map(_ => new Path(dir, s"$BucketCol=0")).getOrElse(dir)
          empty.repartition(1).write.mode(SaveMode.Overwrite)
            .parquet(target.toString)
          writePartitions(dir, pcols)
          bucketSpec.foreach { case (c, n) => writeBucketSpec(dir, c, n) }
          if (overwrite)
            resetSchemaActions(fq, dir, carryConstraints = !replaceTable)
          checks.foreach { case (nm, ex) =>
            writeSchemaAction(fq, head.map(_.version + 1).getOrElse(0),
              "addck", s"$nm\t$ex") }
        }
    }
  }

  /** Row-level delta commit: ONE version adopts the staged INSERT side
    * (replacement/new-row data files) and a DELETE side masked through
    * a `_DV/` sidecar, with the prior chain carried by manifest
    * reference — delete+insert visible together or neither,
    * O(touched rows), no data file rewritten. `deletes` is either
    *  - `Left(where)`: atomic replaceWhere (Delta's `INSERT INTO …
    *    REPLACE WHERE` / `writeTo.overwrite(cond)`) — every
    *    `where`-matching live row is masked; commits even with nothing
    *    staged; or
    *  - `Right(dvStaged)`: SQL UPDATE / MERGE / row-level DELETE
    *    through the connector — staged parquet of (file, row_index)
    *    addresses from the scan's `_gfile`/`_gpos` metadata columns,
    *    which render identically to `_metadata.file_path` (both are the
    *    FileSystem-qualified path string), so the catalog's
    *    exact-string DV join masks them. Nothing staged is a no-op.
    *
    * `basedOn` is the version the row-level SCAN read: the staged DV
    * pairs address it, so if any other commit (compact/overwrite/
    * another writer) landed since, the DELETE side could silently match
    * nothing while the INSERT side commits, duplicating rows — the
    * commit aborts instead (Delta/Iceberg's conflict semantics) and the
    * caller re-runs the whole operation. Hive-partitioned targets land
    * the insert side INLINE at the version root (its partition column
    * travels as data, like a pre-evolution file — reads take it from
    * the data); compaction re-partitions them later. */
  private[graft] def commitDelta(fq: String, basedOn: Option[Int],
      dataStaged: Seq[Path], deletes: Either[Column, Seq[Path]]): Unit = {
    val s = snapshot(fq)
    if (deletes == Right(Nil) && dataStaged.isEmpty) return // no-op op
    val mask = deletes.swap.toOption.filter(_ => s.chain.nonEmpty)
      .map(where => addressedRows(s).filter(where)
        .select(col("__fp").as("file"), col("__ri").as("row_index")))
    // a row-level scan of an older version conflicts with the live one
    basedOn.filter(_ != s.version).foreach { b =>
      throw new java.util.ConcurrentModificationException(
        s"$fq advanced to v${s.version} since this operation read v$b — " +
          s"rerun the operation against the current version (the row-level scan read v$b)")
    }
    try commit(fq, Some(s), None) { (dir, head) =>
      adoptStaged(dir, dataStaged.map(f => (f, f.getName)))
      mask.foreach(_.write.mode(SaveMode.Overwrite).parquet(dvDir(dir).toString))
      deletes.foreach(dvs =>
        if (dvs.nonEmpty) adoptStaged(dvDir(dir), dvs.map(f => (f, f.getName))))
      carryChain(head.get, dir)
    } catch {
      case e: java.util.ConcurrentModificationException if basedOn.isDefined =>
        throw new java.util.ConcurrentModificationException(
          s"${e.getMessage} (the row-level scan read v${basedOn.get})", e)
    }
  }

  /** Epoch tags already committed into this table (streaming-sink
    * replay detection): the union of the durable table-level
    * `_EPOCHS/` markers — which survive vacuum/maintain pruning
    * version dirs, so idempotency outlives any retention policy — and
    * the per-version `_EPOCH` files (written atomically with each
    * commit, and the only layer present for the instant between a
    * commit and its marker write). */
  private[graft] def committedEpochs(fq: String): Set[String] = {
    val td = tableDir(fq)
    if (!fs.exists(td)) return Set.empty
    val durable = {
      val d = epochsDir(fq)
      if (!fs.exists(d)) Set.empty[String]
      else fs.listStatus(d).filter(_.isFile)
        .map(st => decodeEpochTag(st.getPath.getName)).toSet
    }
    durable ++ fs.listStatus(td).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.matches("v_\\d{6}"))
      .flatMap { d =>
        val p = new Path(d, "_EPOCH")
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
          finally in.close()
        }
      }.toSet
  }

  def drop(fq: String): Unit = {
    val d = tableDir(fq)
    if (fs.exists(d)) fs.delete(d, true)
  }

  // ---- table health + policy-driven maintenance ---------------------------

  /** Metadata-only health report: O(delta) ingest is a loan — small
    * files and outstanding DV masks accumulate scan debt that
    * [[maintain]] settles. All fields come from manifests, footers and
    * sidecars; no data pages are read. */
  final case class TableHealth(files: Int, bytes: Long, dvRows: Long,
      liveRows: Option[Long], retainedVersions: Int) {
    def avgFileBytes: Long = if (files == 0) 0L else bytes / files
    /** Fraction of addressed rows currently masked (0 when unknown). */
    def dvRatio: Double = liveRows match {
      case Some(n) if n + dvRows > 0 => dvRows.toDouble / (n + dvRows)
      case _ => if (dvRows > 0) 1.0 else 0.0
    }
  }

  def describeHealth(fq: String): TableHealth = {
    val (nFiles, bytes) = fileStats(fq)
    val dvRows = deletionVectorRows(fq)
    val retained = fs.listStatus(tableDir(fq)).count(st =>
      st.isDirectory && st.getPath.getName.matches("v_\\d{6}"))
    TableHealth(nFiles, bytes, dvRows, fastCount(fq), retained)
  }

  /** OPTIMIZE policy runner (the auto-compaction loop a lakehouse
    * schedules after ingest): compacts when the file count exceeds
    * twice the right-sized count (small-file debt) or when more than
    * `maxDvRatio` of addressed rows are DV-masked (every read pays the
    * anti-join/mask walk for bytes that are dead), then vacuums
    * unreferenced versions past the retention window. Decisions are
    * metadata-only; a healthy table is a NO-OP (returns empty).
    * @return actions taken, in order (e.g. "compact", "vacuum:v_000001") */
  def maintain(fq: String, targetFileBytes: Long = 128L << 20,
      maxDvRatio: Double = 0.05, keepVersions: Int = 2): Seq[String] = {
    val h = describeHealth(fq)
    val rightSized = math.max(1L, (h.bytes + targetFileBytes - 1) / targetFileBytes)
    val smallFileDebt = h.files > 2 * rightSized
    val dvDebt = h.dvRows > 0 && h.dvRatio > maxDvRatio
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    if (smallFileDebt || dvDebt) {
      compact(fq, targetFileBytes)
      actions += "compact"
    }
    val removed = vacuum(fq, keepVersions)
    actions ++= removed.map(v => s"vacuum:$v")
    actions.toSeq
  }
}

object TableCatalog {

  /** Recursive nullable-everywhere view of a type — the file-source
    * read contract (`StructType.asNullable` is private[spark]). */
  private[catalog] def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case at: ArrayType =>
        ArrayType(allNullable(at.elementType), containsNull = true)
      case mt: MapType => MapType(allNullable(mt.keyType),
        allNullable(mt.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private[catalog] val BloomHashes = 5 // double-hashed probes per key (~1% FPR at 10 bits/row)

  /** The key hash both sides use: Spark's `xxhash64` (seed 42) of the
    * STRING form of the value. Hashing the canonical string form keeps
    * the build side (a Column over the native type) and the probe side
    * (a driver-side literal) bit-identical regardless of numeric width;
    * callers pass probe values whose `toString` matches Spark's
    * string cast (exact for string and integral keys). */
  private def bloomHash(s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.unsafe.types.UTF8String
    XxHash64(Seq(Literal.create(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]
  }

  private def bloomBitPositions(h: Long, words: Int): Seq[Int] = {
    val m = words * 64L
    val h2 = (h >>> 32) | 1L // odd second hash → full-period double hashing
    (0 until BloomHashes).map(i => java.lang.Math.floorMod(h + i * h2, m).toInt)
  }

  /** One task's bloom bitsets over its rows of (`_metadata.file_path`,
    * key hash), by file key, each `wordsOf(key)` words long. A file's
    * rows arrive together, so the raw path is compared with the previous
    * row's and parsed into its key once per file, not once per row. */
  private[catalog] def bloomPartials(
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      wordsOf: Map[String, Int]): Map[String, Array[Long]] = {
    val byKey = scala.collection.mutable.HashMap.empty[String, Array[Long]]
    var raw: org.apache.spark.unsafe.types.UTF8String = null
    var bits: Array[Long] = null
    var m = 0L
    rows.foreach { r =>
      val f = r.getUTF8String(0)
      if (raw == null || f != raw) {
        raw = f.clone() // the row's buffer is reused
        val key = new Path(raw.toString).toUri.getPath // drop scheme
        bits = byKey.getOrElseUpdate(key, Array.ofDim[Long](wordsOf(key)))
        m = bits.length * 64L
      }
      val h = r.getLong(1)
      val h2 = (h >>> 32) | 1L
      var i = 0
      while (i < BloomHashes) { // the positions bloomBitPositions probes
        val pos = java.lang.Math.floorMod(h + i * h2, m).toInt
        bits(pos >> 6) |= 1L << (pos & 63)
        i += 1
      }
    }
    byKey.toMap
  }

  /** May a bloom bitset hold `value` (in its canonical string form)? */
  private[graft] def bloomMayContain(bits: Array[Long], value: String): Boolean =
    bloomBitPositions(bloomHash(value), bits.length).forall(pos =>
      (bits(pos >> 6) & (1L << (pos & 63))) != 0L)

  /** Deletion-vector sidecar schema, exactly as the catalog writes it
    * ((`_metadata.file_path`, `_metadata.row_index`) projections). */
  private[catalog] val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("row_index",
      org.apache.spark.sql.types.LongType)))

  /** The synthetic bucket-routing column's path name (no leading
    * underscore: hive listings treat `_`-prefixed paths as hidden).
    * A layout detail — filtered from every logical schema. */
  private[graft] val BucketCol = "gbucket"

  /** Logical↔physical column mapping of one table version.
    * `logicalOf` holds only physicals whose logical name DIFFERS;
    * `dropped` physicals are hidden from reads; `adds` are the
    * declared (ALTER ADD) columns as (physical name, field under its
    * CURRENT logical name). */
  private[graft] final case class ColumnMapping(
      logicalOf: Map[String, String],
      dropped: Set[String],
      adds: Seq[(String, org.apache.spark.sql.types.StructField)]) {
    def isIdentity: Boolean = logicalOf.isEmpty && dropped.isEmpty
    lazy val physicalOf: Map[String, String] =
      logicalOf.map { case (p, l) => l -> p }
    def physical(logical: String): String =
      physicalOf.getOrElse(logical, logical)
  }

  /** StructField metadata key carrying a declared column's parquet
    * (physical) name when it differs from the logical name. */
  private[graft] val PhysicalKey = "graft.physical"

  /** Minimum age (24 h) of a retired version directory before the
    * COMMIT-path pruner may reclaim it; `graft.reclaimGraceMs`
    * overrides per session (<= 0 = eager). */
  private[graft] val DefaultReclaimGraceMs: Long = 24L * 3600 * 1000

  /** Rebase attempts a commit with `rebaseIf` makes before giving up. */
  private val MaxRebaseAttempts = 50

  private val TimestampTypeKey = "spark.sql.parquet.outputTimestampType"

  /** Per session: the catalog writes in flight on it, and the session's
    * own timestamp setting from before the first of them. Keyed by
    * identity; an entry lives only while a write is in flight. */
  private val microsHolds =
    new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]()

  /** Enter a catalog write on `spark`: the first writer in flight saves
    * the session's setting and switches it to TIMESTAMP_MICROS. */
  private def holdMicros(spark: SparkSession): Unit = microsHolds.synchronized {
    val (n, own) = Option(microsHolds.get(spark))
      .getOrElse((0, spark.conf.getOption(TimestampTypeKey)))
    if (n == 0) spark.conf.set(TimestampTypeKey, "TIMESTAMP_MICROS")
    microsHolds.put(spark, (n + 1, own))
  }

  /** Leave a catalog write on `spark`: the last writer in flight puts the
    * session's own setting back. */
  private def releaseMicros(spark: SparkSession): Unit = microsHolds.synchronized {
    val (n, own) = microsHolds.get(spark)
    if (n > 1) microsHolds.put(spark, (n - 1, own))
    else {
      microsHolds.remove(spark)
      own match {
        case Some(v) => spark.conf.set(TimestampTypeKey, v)
        case None => spark.conf.unset(TimestampTypeKey)
      }
    }
  }

  /** The wider of two types when the pair is a SAFE widening — every
    * value of the narrower type representable EXACTLY in the wider:
    *  - byte → short → int → long within integrals,
    *  - float → double within floating point,
    *  - byte/short/int → double (53-bit mantissa covers 31 bits;
    *    long → double would silently round past 2^53 and is rejected),
    *  - decimal(p,s) → decimal(p',s') when neither the integer digits
    *    (p−s) nor the scale shrink,
    *  - integrals → a decimal whose integer digits cover the type's
    *    full range (byte 3, short 5, int 10, long 20).
    * None for any other differing pair. Drives schema-evolution type
    * widening: appends may widen a column, never narrow it; Spark 4's
    * vectorized parquet reader decodes every promotion above natively
    * at scan time, so old files are never rewritten. */
  private[graft] def widerOf(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Option[(Int, Int)] = t match {
      case ByteType    => Some((0, 1))
      case ShortType   => Some((0, 2))
      case IntegerType => Some((0, 3))
      case LongType    => Some((0, 4))
      case FloatType   => Some((1, 1))
      case DoubleType  => Some((1, 2))
      case _ => None
    }
    def intDigits(t: DataType): Option[Int] = t match {
      case ByteType => Some(3); case ShortType => Some(5)
      case IntegerType => Some(10); case LongType => Some(20); case _ => None
    }
    def covers(d: DecimalType, o: DecimalType): Boolean =
      d.scale >= o.scale && d.precision - d.scale >= o.precision - o.scale
    if (a == b) Some(a)
    else (a, b) match {
      case (da: DecimalType, db: DecimalType) =>
        if (covers(da, db)) Some(da)
        else if (covers(db, da)) Some(db)
        else None
      case (d: DecimalType, i) if intDigits(i)
        .exists(n => d.precision - d.scale >= n) => Some(d)
      case (i, d: DecimalType) if intDigits(i)
        .exists(n => d.precision - d.scale >= n) => Some(d)
      case (DoubleType, ByteType | ShortType | IntegerType) => Some(DoubleType)
      case (ByteType | ShortType | IntegerType, DoubleType) => Some(DoubleType)
      case _ => (rank(a), rank(b)) match {
        case (Some((fa, ra)), Some((fb, rb))) if fa == fb =>
          Some(if (ra >= rb) a else b)
        case _ => None
      }
    }
  }

  /** One row group's byte range and column bounds (numeric exact,
    * string truncation-safe). */
  private[graft] final case class RowGroupStat(start: Long, length: Long,
      numeric: Map[String, (BigDecimal, BigDecimal)],
      strings: Map[String, (Array[Byte], Option[Array[Byte]])])

  /** One data file's `_STATS` entry: numeric bounds (with `__rows`),
    * string bounds and the row groups of a multi-group file. */
  private[catalog] final case class FileStats(
      numeric: Map[String, (BigDecimal, BigDecimal)],
      strings: Map[String, (Array[Byte], Option[Array[Byte]])],
      rowGroups: Seq[RowGroupStat])

  private[catalog] sealed trait SchemaAction { def version: Int }
  private[catalog] final case class AddAction(version: Int,
      fields: Seq[org.apache.spark.sql.types.StructField]) extends SchemaAction
  private[catalog] final case class RenameAction(version: Int,
      physical: String, to: String) extends SchemaAction
  private[catalog] final case class DropAction(version: Int,
      physical: String) extends SchemaAction
  private[catalog] final case class ResetAction(version: Int)
      extends SchemaAction
  private[catalog] final case class ConstraintAddAction(version: Int,
      name: String, kind: String, arg: String) extends SchemaAction
  private[catalog] final case class ConstraintDropAction(version: Int,
      name: String) extends SchemaAction

  /** A table constraint: `kind` is "notnull" (`arg` = the PHYSICAL
    * column name — rename-stable) or "check" (`arg` = a SQL boolean
    * expression over LOGICAL column names). */
  private[graft] final case class Constraint(name: String, kind: String,
      arg: String)

  private[catalog] val ActionName =
    """v(\d{6})_(\d{6})\.(add\.json|rename|drop|reset|addnn|addck|dropct)""".r
  private[catalog] val LegacyActionName = """(\d{6})\.json""".r

  private[graft] def physicalNameOf(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** Recursive file listing WITHOUT LocatedFileStatus. Hadoop's
    * `fs.listFiles(dir, true)` wraps every entry in a LocatedFileStatus
    * whose constructor eagerly resolves permissions — RawLocalFileSystem
    * implements that by FORKING `ls -ld` once PER FILE, which driver
    * thread-dump sampling showed as the single largest planning cost of
    * every table-format query (a process per data file per scan). Plain
    * listStatus keeps permission loading lazy, so the local scheme walks
    * directories manually; remote stores keep the flat recursive LIST
    * (one RPC for arbitrarily deep layouts — the right shape on S3). */
  private[graft] def listAllFilesFast(fs: FileSystem, dir: Path): Seq[Path] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
    if (fs.getUri.getScheme == "file") {
      def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
        if (st.isDirectory) walk(st.getPath) else buf += st.getPath
      }
      walk(dir)
    } else {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) buf += it.next().getPath
    }
    buf.toSeq
  }

  // ---- sidecar parse cache ------------------------------------------------
  // Snapshots, `_STATS`/`_BLOOMS` text sidecars, manifests and DV
  // parquet footers would otherwise be re-read on EVERY scan-planning
  // call — O(chain) driver IO per query on a long-chained table.
  // Version dirs and their sidecars are immutable once
  // written except at a commit of their own version dir (or a bloom
  // rebuild / table rename), so a process-wide cache keyed by
  // (qualified path, kind, mtime, length) makes repeated planning
  // O(chain) map lookups with zero filesystem reads — the same
  // file-status-keyed invalidation Delta uses for its log segments.

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long, Long), AnyRef]()
  private[graft] val metaCacheMisses =
    new java.util.concurrent.atomic.AtomicLong()
  private[graft] val metaCacheHits =
    new java.util.concurrent.atomic.AtomicLong()

  /** Parse `p` through the cache (None = file absent). `kind`
    * disambiguates different parses of the same file. */
  private[catalog] def cachedParse[T <: AnyRef](fs: FileSystem, p: Path,
      kind: String)(parse: String => T): Option[T] = {
    if (!fs.exists(p)) return None
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(p).toString, kind,
      st.getModificationTime, st.getLen)
    val hit = metaCache.get(key)
    if (hit != null) { metaCacheHits.incrementAndGet(); return Some(hit.asInstanceOf[T]) }
    metaCacheMisses.incrementAndGet()
    val in = fs.open(p)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
    val v = parse(text)
    if (metaCache.size > 8192) metaCache.clear() // crude bound; re-warms
    metaCache.put(key, v)
    Some(v)
  }

  /** Cache a computed value keyed by a file's status (DV footer row
    * counts — parquet, not text, so no parse function). */
  private[catalog] def cachedValue[T <: AnyRef](fs: FileSystem, p: Path,
      kind: String)(compute: => T): Option[T] = {
    if (!fs.exists(p)) return None
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(p).toString, kind,
      st.getModificationTime, st.getLen)
    val hit = metaCache.get(key)
    if (hit != null) { metaCacheHits.incrementAndGet(); return Some(hit.asInstanceOf[T]) }
    metaCacheMisses.incrementAndGet()
    val v = compute
    if (metaCache.size > 8192) metaCache.clear()
    metaCache.put(key, v)
    Some(v)
  }

  /** Non-computing cache probe (None = absent file OR no entry). */
  private[catalog] def cachedPeek[T <: AnyRef](fs: FileSystem, p: Path,
      kind: String): Option[T] = {
    if (!fs.exists(p)) return None
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(p).toString, kind,
      st.getModificationTime, st.getLen)
    Option(metaCache.get(key)).map(_.asInstanceOf[T])
  }

  /** Store a value under a file's current status key. */
  private[catalog] def cachedPut[T <: AnyRef](fs: FileSystem, p: Path,
      kind: String, value: T): Unit = {
    if (!fs.exists(p)) return
    val st = fs.getFileStatus(p)
    val key = (fs.makeQualified(p).toString, kind,
      st.getModificationTime, st.getLen)
    if (metaCache.size > 8192) metaCache.clear()
    metaCache.put(key, value)
  }

  /** Undo Spark's hive-path escaping (%XX) in partition segments. */
  private[graft] def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[graft] val StringStatBytes = 16

  /** Unsigned lexicographic byte compare — parquet's BINARY stat order
    * AND Spark's UTF8String order, which is what makes string-bound
    * skipping decisions agree with Spark's row-level comparisons. */
  private[graft] def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Truncation-safe LOWER bound: a prefix compares ≤ the full value. */
  private[graft] def truncLower(b: Array[Byte]): Array[Byte] =
    if (b.length <= StringStatBytes) b else b.take(StringStatBytes)

  /** Truncation-safe UPPER bound: the successor of the 16-byte prefix
    * (last non-0xFF byte incremented, tail dropped) compares ≥ every
    * value carrying the prefix; all-0xFF ⇒ None (unbounded). */
  private[graft] def truncUpper(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StringStatBytes) Some(b)
    else {
      val t = b.take(StringStatBytes)
      var i = t.length - 1
      while (i >= 0 && t(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else {
        val r = t.take(i + 1)
        r(i) = (r(i) + 1).toByte
        Some(r)
      }
    }

  /** Can a file with string bounds (lower, upper) hold a value in
    * [lo, hi]? (either side of the predicate range may be open) */
  private[graft] def stringRangeOverlaps(
      lower: Array[Byte], upper: Option[Array[Byte]],
      lo: Option[Array[Byte]], hi: Option[Array[Byte]]): Boolean = {
    val belowRange = (upper, lo) match { // file entirely below the range
      case (Some(u), Some(l)) => compareBytes(u, l) < 0
      case _ => false
    }
    val aboveRange = hi.exists(h => compareBytes(lower, h) > 0)
    !(belowRange || aboveRange)
  }

  /** Stats-comparable decimal form of a predicate value, matching how
    * [[TableCatalog]] stores `_STATS`: identity for numerics, epoch
    * DAYS for dates, epoch MICROS for timestamps (the catalog writes
    * TIMESTAMP_MICROS physical int64s — see `withMicrosTimestamps`).
    * None = the value has no exactly-comparable stats form (e.g.
    * strings — bloom sidecars cover their equality case). */
  private[graft] def statDecimal(v: Any): Option[BigDecimal] = v match {
    case n: Byte    => Some(BigDecimal(n.toInt))
    case n: Short   => Some(BigDecimal(n.toInt))
    case n: Int     => Some(BigDecimal(n))
    case n: Long    => Some(BigDecimal(n))
    case n: Float   => Some(BigDecimal(n.toDouble))
    case n: Double  => Some(BigDecimal(n))
    case n: java.math.BigDecimal => Some(BigDecimal(n))
    case n: BigDecimal          => Some(n)
    case d: java.sql.Date       => Some(BigDecimal(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case t: java.sql.Timestamp  => Some(BigDecimal(
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L))
    case i: java.time.Instant   => Some(BigDecimal(
      i.getEpochSecond * 1000000L + i.getNano / 1000L))
    case l: java.time.LocalDateTime => Some(BigDecimal(
      l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L))
    case _ => None
  }
}
