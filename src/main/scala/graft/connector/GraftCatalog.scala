package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog => V2TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.TableCatalog

/** V2 catalog plugin exposing the graft [[TableCatalog]] to SQL:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.gcat", "graft.connector.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.gcat.root", "/data/warehouse")
  *   spark.sql("CREATE TABLE gcat.db.s.t AS SELECT ...")       // CTAS
  *   spark.sql("INSERT INTO gcat.db.s.t SELECT ...")           // append
  *   spark.sql("SELECT * FROM gcat.db.s.t VERSION AS OF 0")    // time travel
  * }}}
  *
  * Identifiers map `catalog.db.schema.table` → the catalog's
  * `db.schema.table` layout. Every read/write capability of
  * [[GraftSource]] rides along unchanged (file skipping, DV masking,
  * aggregate pushdown, runtime filtering, staged commits) because
  * `loadTable` returns the same [[GraftTable]]. CTAS/RTAS stage
  * (`StagingTableCatalog`) and their DATA write commits v0 in one
  * commit — time travel to v0 reads the CTAS snapshot; a bare
  * CREATE TABLE commits a schema-only empty v0 so a later INSERT
  * INTO resolves the table. */
class GraftCatalog extends V2TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var root: String = _

  // declares SQL `ALTER TABLE … ADD/DROP CONSTRAINT` support — without
  // this the analyzer rejects constraint DDL before alterTable runs
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  // ---- FunctionCatalog: the V2 `bucket` function -----------------------
  // Required for storage-partitioned joins over BUCKETED tables:
  // Spark resolves the bucket transform a scan reports against the
  // RELATION's function catalog — i.e. this one.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket" && ident.namespace().isEmpty)
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.root"))
  }
  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def cat = new TableCatalog(spark, root)
  private def fqOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((root +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(t => fs.exists(new Path(dir, s"$t/_CURRENT")))
      .map(Identifier.of(namespace, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    cat.exists(fqOf(ident))

  private def tableFor(fq: String, version: Option[Int]): GraftTable = {
    val base = Map("root" -> root, "table" -> fq)
    val c = cat
    val s = c.snapshot(fq, version.orElse(c.version(fq)).getOrElse(
      throw new NoSuchTableException(fq.split('.').toSeq)))
    val pcols = s.partitionColumns
    val opts = base ++
      version.map(x => "version" -> x.toString) ++
      (if (pcols.nonEmpty) Some("partitions" -> pcols.mkString(","))
       else None) ++
      s.bucketSpec.filter(_ => s.isBucketed)
        .map { case (c, n) => "bucketSpec" -> s"$c,$n" }
    new GraftTable(if (s.files.isEmpty) new StructType() else s.schema, opts)
  }

  // SQL change-data-feed identifier (Delta's @-syntax family):
  //   SELECT * FROM cat.db.s.`t@changes(0,5)`
  // resolves to the table's change feed over commits [0, 5] — the
  // columns plus _change_type / _commit_version.
  private val ChangesIdent = """(.+)@changes\((\d+),(\d+)\)""".r

  override def loadTable(ident: Identifier): Table = ident.name() match {
    case ChangesIdent(tname, from, to) =>
      val fq = (ident.namespace() :+ tname).mkString(".")
      if (!cat.exists(fq))
        throw new NoSuchTableException((ident.namespace() :+ tname).toSeq)
      new GraftCdfTable(cat.snapshot(fq).schema, Map("root" -> root, "table" -> fq,
        "startingVersion" -> from, "endingVersion" -> to))
    case _ =>
      val fq = fqOf(ident)
      if (!cat.exists(fq))
        throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
      tableFor(fq, None)
  }

  /** SQL time travel: `VERSION AS OF <n>`. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val fq = fqOf(ident)
    tableFor(fq, Some(version.toInt))
  }

  /** SQL time travel: `TIMESTAMP AS OF <ts>` (micros since epoch from
    * Spark) — resolves to the newest RETAINED version committed at or
    * before the instant, by version-dir modification time (the commit's
    * pointer swap finalizes the dir). Vacuumed versions are not
    * resolvable, as with Delta. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val fq = fqOf(ident)
    if (!cat.exists(fq))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    tableFor(fq,
      Some(cat.versionAtMillis(fq, Math.floorDiv(timestampMicros, 1000L))))
  }

  /** Resolve DDL transforms into the catalog layout: identity
    * partitioning → hive layout; `PARTITIONED BY (…, bucket(n, col))`
    * → bucketed layout (Iceberg's DDL shape), the bucket transform
    * always routing last. Returns (identity cols, bucket spec). */
  private def resolveLayout(schema: StructType, partitions: Array[Transform])
      : (Seq[String], Option[(String, Int)]) = {
    val (bucketTs, identTs) = partitions.toSeq.partition(_.name == "bucket")
    require(bucketTs.length <= 1,
      s"graft SQL catalog supports at most one bucket transform, got " +
        bucketTs.mkString(", "))
    val pcols = identTs.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"graft SQL catalog supports identity and bucket partitioning " +
          s"only, got $t")
      t.references.head.fieldNames.mkString(".")
    }
    val bucketSpec = bucketTs.headOption.map { t =>
      val n = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"bucket transform missing numBuckets literal: $t"))
      require(t.references.length == 1,
        s"bucket transform takes one column, got $t")
      val c = t.references.head.fieldNames.mkString(".")
      require(schema.fieldNames.contains(c),
        s"bucket column $c not in schema ${schema.fieldNames.mkString(",")}")
      require(!pcols.contains(c),
        s"bucket column $c cannot also be an identity partition")
      (c, n)
    }
    (pcols, bucketSpec)
  }

  private def createOptions(fq: String, pcols: Seq[String],
      bucketSpec: Option[(String, Int)]): Map[String, String] = {
    val layout = pcols ++ bucketSpec.map(_ => cat.BucketCol)
    Map("root" -> root, "table" -> fq) ++
      (if (layout.nonEmpty) Some("partitions" -> layout.mkString(","))
       else None) ++
      bucketSpec.map { case (c, n) => "bucketSpec" -> s"$c,$n" }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val fq = fqOf(ident)
    if (cat.exists(fq))
      throw new TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    val (pcols, bucketSpec) = resolveLayout(schema, partitions)
    // durable create: a schema-only v0 commits immediately so a later
    // INSERT INTO resolves the table without any prior write. CTAS
    // does NOT come through here — it stages (stageCreate) and its
    // data write commits v0 directly, Delta's single-commit shape.
    cat.commitEmptyVersion(fq, schema, overwrite = true,
      pcols ++ bucketSpec.map(_ => cat.BucketCol), bucketSpec)
    tableFor(fq, None)
  }

  /** CREATE TABLE … (cols, CONSTRAINT … CHECK (…)): the TableInfo
    * overload — the default implementation would silently DROP the
    * constraints. They commit ATOMICALLY with the schema-only v0
    * (inside the same create commit): recording them in follow-up
    * commits would leave a crash/concurrent-writer window where the
    * table exists with no constraints and admits violating rows. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val checks = info.constraints().toSeq.map {
      case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
        (ck.name(), ck.predicateSql())
      case other => throw new UnsupportedOperationException(
        "graft SQL catalog: only CHECK constraints are enforceable " +
          s"(got ${other.toDDL})")
    }
    if (checks.isEmpty)
      return createTable(ident, info.schema(), info.partitions(),
        info.properties())
    val fq = fqOf(ident)
    if (cat.exists(fq))
      throw new TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    val (pcols, bucketSpec) = resolveLayout(info.schema(), info.partitions())
    cat.commitEmptyVersion(fq, info.schema(), overwrite = true,
      pcols ++ bucketSpec.map(_ => cat.BucketCol), bucketSpec,
      checks = checks)
    loadTable(ident)
  }

  // ---- StagingTableCatalog: single-commit CTAS / RTAS -------------------
  // CREATE TABLE AS SELECT stages the table and the DATA write commits
  // v0 (time travel to v0 reads the CTAS snapshot, not an empty
  // marker); REPLACE TABLE AS SELECT overwrites in one commit. Nothing
  // is materialized until the write commits — an aborted CTAS leaves
  // no table behind.
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val fq = fqOf(ident)
    if (cat.exists(fq))
      throw new TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    val (pcols, bucketSpec) = resolveLayout(schema, partitions)
    new StagedGraftTable(schema, createOptions(fq, pcols, bucketSpec),
      replace = false, onAbort = () => if (cat.exists(fq)) cat.drop(fq))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val fq = fqOf(ident)
    if (!cat.exists(fq))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val (pcols, bucketSpec) = resolveLayout(schema, partitions)
    new StagedGraftTable(schema, createOptions(fq, pcols, bucketSpec),
      replace = true, onAbort = () => ())
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val fq = fqOf(ident)
    val existed = cat.exists(fq)
    val (pcols, bucketSpec) = resolveLayout(schema, partitions)
    new StagedGraftTable(schema, createOptions(fq, pcols, bucketSpec),
      replace = true,
      onAbort = () => if (!existed && cat.exists(fq)) cat.drop(fq))
  }

  /** SQL schema evolution — all METADATA commits, zero data rewritten:
    *  - `ALTER TABLE t ADD COLUMNS (c TYPE, …)`: declares the columns
    *    in the `_SCHEMAS/` sidecar; old rows read NULL, the next
    *    INSERT carries them; same-name adds are rejected;
    *  - `ALTER TABLE t RENAME COLUMN a TO b`: logical rename via the
    *    column-mapping layer (Delta name-mode shape) — old files'
    *    physical column reads back as `b`;
    *  - `ALTER TABLE t DROP COLUMN c`: the column leaves the logical
    *    schema; its bytes retire at the next compaction. Re-adding
    *    the same name maps to a FRESH physical column — old data
    *    never resurrects.
    * Other ALTER shapes stay unsupported. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val fq = fqOf(ident)
    if (!cat.exists(fq))
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    changes.foreach {
      case c: TableChange.AddColumn => require(c.fieldNames().length == 1,
        s"graft ALTER TABLE: nested column add unsupported " +
          s"(${c.fieldNames().mkString(".")})")
      case c: TableChange.RenameColumn => require(c.fieldNames().length == 1,
        s"graft ALTER TABLE: nested column rename unsupported " +
          s"(${c.fieldNames().mkString(".")})")
      case c: TableChange.DeleteColumn => require(c.fieldNames().length == 1,
        s"graft ALTER TABLE: nested column drop unsupported " +
          s"(${c.fieldNames().mkString(".")})")
      case a: TableChange.AddConstraint => a.constraint() match {
        case _: org.apache.spark.sql.connector.catalog.constraints.Check => ()
        case other => throw new UnsupportedOperationException(
          "graft SQL catalog: only CHECK constraints are enforceable " +
            s"(got ${other.toDDL})")
      }
      case _: TableChange.DropConstraint => ()
      case n: TableChange.UpdateColumnNullability =>
        require(n.fieldNames().length == 1,
          s"graft ALTER TABLE: nested column nullability unsupported " +
            s"(${n.fieldNames().mkString(".")})")
      case other => throw new UnsupportedOperationException(
        "graft SQL catalog: only ADD / RENAME / DROP COLUMN, " +
          "ADD / DROP CONSTRAINT and SET / DROP NOT NULL are supported " +
          s"(got $other)")
    }
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.nonEmpty)
      cat.alterAddColumns(fq, StructType(adds.map(a =>
        org.apache.spark.sql.types.StructField(
          a.fieldNames().head, a.dataType(), nullable = true))))
    changes.foreach {
      case r: TableChange.RenameColumn =>
        cat.alterRenameColumn(fq, r.fieldNames().head, r.newName())
      case d: TableChange.DeleteColumn =>
        cat.alterDropColumns(fq, Seq(d.fieldNames().head))
      case a: TableChange.AddConstraint =>
        // validated against existing data inside alterAddCheck; the
        // write-path enforcement is the catalog's own (per-row, inside
        // the write pass)
        val ck = a.constraint()
          .asInstanceOf[org.apache.spark.sql.connector.catalog.constraints.Check]
        cat.alterAddCheck(fq, ck.name(), ck.predicateSql())
      case d: TableChange.DropConstraint =>
        if (cat.snapshot(fq).constraints.exists(_.name == d.name()))
          cat.alterDropConstraint(fq, d.name())
        else if (!d.ifExists()) throw new IllegalArgumentException(
          s"no constraint ${d.name()} on $fq")
      case n: TableChange.UpdateColumnNullability =>
        // ALTER COLUMN c SET NOT NULL ⇒ the nn_<col> constraint
        // (validated against existing data); DROP NOT NULL removes it
        val col = n.fieldNames().head
        if (!n.nullable()) cat.alterAddNotNull(fq, col)
        else
          // resolve by PHYSICAL binding, not by reconstructing the
          // name slug: a constraint created before a rename is named
          // nn_<oldname> but still binds this column
          cat.notNullConstraintOf(fq, col)
            .foreach(c => cat.alterDropConstraint(fq, c.name))
      case _ => ()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val fq = fqOf(ident)
    val existed = cat.exists(fq)
    if (existed) cat.drop(fq)
    existed
  }

  // ---- stored procedures: CALL <cat>.system.<proc>(...) -------------------
  // The maintenance loop as SQL verbs — the operational surface a
  // lakehouse needs from a SQL-only client (Iceberg's CALL
  // system.rewrite_data_files shape):
  //   CALL c.system.health('d.s.t')            → table health report
  //   CALL c.system.optimize('d.s.t')          → policy compact+vacuum
  //   CALL c.system.zorder('d.s.t', 'a,b')     → z-order re-cluster
  //   CALL c.system.build_bloom('d.s.t', 'k')  → incremental bloom index
  //   CALL c.system.vacuum('d.s.t', 2)         → retention sweep

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, DoubleType}
  import org.apache.spark.unsafe.types.UTF8String

  private def procedure(pname: String, params: Seq[ProcedureParameter],
      outSchema: StructType)(body: InternalRow => Seq[InternalRow])
      : UnboundProcedure = new UnboundProcedure {
    override def name(): String = pname
    override def description(): String = s"graft maintenance: $pname"
    override def bind(inputType: StructType): BoundProcedure =
      new BoundProcedure {
        override def name(): String = pname
        override def description(): String = s"graft maintenance: $pname"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val out = body(input).toArray
          java.util.List.of[Scan](new LocalScan {
            override def rows(): Array[InternalRow] = out
            override def readSchema(): StructType = outSchema
          }).iterator()
        }
      }
  }

  private def p(name: String, dt: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(name, dt).build()

  private def actionRows(actions: Seq[String]): Seq[InternalRow] =
    if (actions.isEmpty)
      Seq(new GenericInternalRow(Array[Any](UTF8String.fromString("noop"))))
    else actions.map(a =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(a))))

  private val actionSchema =
    StructType(Seq(org.apache.spark.sql.types.StructField("action", StringType)))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("health", "optimize", "zorder", "build_bloom", "vacuum")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    def tableArg(in: InternalRow) = in.getUTF8String(0).toString
    ident.name() match {
      case "health" => procedure("health", Seq(p("table", StringType)),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("files", IntegerType),
          org.apache.spark.sql.types.StructField("bytes", LongType),
          org.apache.spark.sql.types.StructField("avg_file_bytes", LongType),
          org.apache.spark.sql.types.StructField("dv_rows", LongType),
          org.apache.spark.sql.types.StructField("dv_ratio", DoubleType),
          org.apache.spark.sql.types.StructField("retained_versions", IntegerType)))) { in =>
        val h = cat.describeHealth(tableArg(in))
        Seq(new GenericInternalRow(Array[Any](h.files, h.bytes,
          h.avgFileBytes, h.dvRows, h.dvRatio, h.retainedVersions)))
      }
      case "optimize" => procedure("optimize",
        Seq(p("table", StringType)), actionSchema) { in =>
        actionRows(cat.maintain(tableArg(in)))
      }
      case "zorder" => procedure("zorder",
        Seq(p("table", StringType), p("columns", StringType)), actionSchema) { in =>
        val cols = in.getUTF8String(1).toString.split(',').map(_.trim).toSeq
        cat.compactZOrder(tableArg(in), cols)
        actionRows(Seq(s"zorder:${cols.mkString(",")}"))
      }
      case "build_bloom" => procedure("build_bloom",
        Seq(p("table", StringType), p("column", StringType)),
        StructType(Seq(
          org.apache.spark.sql.types.StructField("files_indexed", IntegerType)))) { in =>
        val n = cat.buildBloomIndex(tableArg(in), in.getUTF8String(1).toString)
        Seq(new GenericInternalRow(Array[Any](n)))
      }
      case "vacuum" => procedure("vacuum",
        Seq(p("table", StringType), p("keep_versions", IntegerType)),
        actionSchema) { in =>
        actionRows(cat.vacuum(tableArg(in), in.getInt(1)).map(v => s"vacuum:$v"))
      }
      case other => throw new IllegalArgumentException(
        s"unknown procedure: system.$other " +
          "(health | optimize | zorder | build_bloom | vacuum)")
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val oldFq = fqOf(oldIdent); val newFq = fqOf(newIdent)
    if (!cat.exists(oldFq))
      throw new NoSuchTableException((oldIdent.namespace() :+ oldIdent.name()).toSeq)
    if (cat.exists(newFq))
      throw new TableAlreadyExistsException(
        (newIdent.namespace() :+ newIdent.name()).toSeq)
    // DV sidecars address rows by absolute (file, row_index); a rename
    // would orphan the masks and RESURRECT deleted rows — compact
    // first (materializes masks), then rename
    require(cat.snapshot(oldFq).dvFiles.isEmpty,
      s"cannot rename $oldFq with outstanding deletion vectors — run compact first")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldDir = new Path(root, oldFq.split('.').mkString("/"))
    val newDir = new Path(root, newFq.split('.').mkString("/"))
    fs.mkdirs(newDir.getParent)
    if (!fs.rename(oldDir, newDir))
      throw new IllegalStateException(s"rename $oldFq -> $newFq failed")
    // manifests reference data files by ABSOLUTE path — retarget every
    // chain reference under the moved root (covers both plain and
    // scheme-qualified spellings)
    val oldAbs = fs.makeQualified(oldDir)
    val newAbs = fs.makeQualified(newDir)
    // trailing-slash anchors: entries always continue with /v_NNNNNN,
    // and the boundary stops (a) sibling tables sharing a name prefix
    // and (b) the scheme-less pattern re-matching inside the
    // scheme-qualified replacement's own output
    val reps = Seq(
      oldAbs.toString + "/" -> (newAbs.toString + "/"),
      oldAbs.toUri.getPath + "/" -> (newAbs.toUri.getPath + "/"))
    // listStatus-based walk: fs.listFiles forks `ls -ld` per file on the
    // local scheme (see TableCatalog.listAllFilesFast)
    graft.catalog.TableCatalog.listAllFilesFast(fs, newDir).foreach { p =>
      // `_STATS`/`_BLOOMS` sidecars key by absolute path too — retarget
      // them as well or skipping/fastCount would silently deactivate
      if (p.getName == "_MANIFEST" || p.getName == "_DVMANIFEST" ||
          p.getName == "_TOMBSTONES" ||
          p.getName == "_STATS" || p.getName.startsWith("_BLOOMS")) {
        val in = fs.open(p)
        val text = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        finally in.close()
        val fixed = reps.foldLeft(text) { case (t, (o, n)) => t.replace(o, n) }
        if (fixed != text) {
          val out = fs.create(p, true)
          try out.write(fixed.getBytes("UTF-8")) finally out.close()
        }
      }
    }
  }
}

/** CTAS/RTAS staged table: the DATA write itself commits the table
  * version (v0 for create, an overwrite commit for replace), so
  * `commitStagedChanges` is a no-op and `abortStagedChanges` drops an
  * orphaned create — time travel to v0 reads the CTAS snapshot, and a
  * failed CTAS leaves nothing behind. */
class StagedGraftTable(schema: org.apache.spark.sql.types.StructType,
    options: Map[String, String], replace: Boolean, onAbort: () => Unit)
    // REPLACE TABLE is schema-replacing: unlike a data overwrite, it
    // drops the prior table's constraints with the rest of its state
    extends GraftTable(schema,
      if (replace) options + ("replaceTable" -> "true") else options)
    with org.apache.spark.sql.connector.catalog.StagedTable {
  /** The PRIOR table's constraints die with the replace — reporting
    * them here would make the analyzer enforce them on the RTAS query. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    if (replace) Array.empty else super.constraints()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val b = super.newWriteBuilder(info)
    if (replace)
      b.asInstanceOf[org.apache.spark.sql.connector.write.SupportsTruncate]
        .truncate()
    else b
  }
  override def commitStagedChanges(): Unit = ()
  override def abortStagedChanges(): Unit = onAbort()
}
