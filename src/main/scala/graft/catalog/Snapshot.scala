package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{StructField, StructType}

/** One data file of a committed version, as its [[Snapshot]] records
  * it. `path` is the qualified path (what readers open and what DV
  * sidecars address); `key` is its scheme-less form, the key of the
  * `_STATS`/`_BLOOMS` sidecars and of [[Snapshot.dvRows]]; `owner` is
  * the version dir that wrote it (where its sidecar entries live);
  * `partitionValues` are the `col=value` pairs of its path below
  * `owner` (none outside a hive layout). The other fields come from
  * the snapshot's lazily read sidecars: `bytes` is 0 when unknown,
  * `rows` None when the file has no `_STATS` entry. */
final class DataFile private[catalog] (val path: String, val key: String,
    val owner: Path, val partitionValues: Seq[(String, Option[String])],
    snap: Snapshot) {
  def bytes: Long = snap.sizes.getOrElse(key, 0L)
  private def fileStats = snap.stats.get(key)
  def stats: Map[String, (BigDecimal, BigDecimal)] =
    fileStats.map(_.numeric).getOrElse(Map.empty)
  def rows: Option[Long] = stats.get("__rows").map(_._1.toLong)
  def stringStats: Map[String, (Array[Byte], Option[Array[Byte]])] =
    fileStats.map(_.strings).getOrElse(Map.empty)
  def rowGroups: Seq[TableCatalog.RowGroupStat] =
    fileStats.map(_.rowGroups).getOrElse(Nil)
  /** Byte offsets of the file's row groups: `Some(Nil)` for a
    * single-group file (its `_STATS` entry has no `g:` lines), None
    * when the file has no `_STATS` entry. */
  def groupStarts: Option[Seq[Long]] = fileStats.map(_.rowGroups.map(_.start))
  def dvRows: Array[Long] = snap.dvRows.getOrElse(key, Array.emptyLongArray)
}

/** Everything a reader needs to know about ONE committed version of a
  * table, resolved once: the chain's data files with their sidecar
  * metadata, the DV sidecars, the layout, the column mapping, the
  * constraints and the schema. Versions are immutable once committed,
  * so [[TableCatalog.snapshot]] memoizes one value per version (keyed
  * by the version dir's status, so a dropped and re-created table
  * never sees its predecessor's snapshot, and rebuilt when a `_STATS`
  * sidecar it read changed — see [[current]]). Every field is lazy: a
  * caller that needs only the file list reads nothing else.
  *
  * Two things stay outside: bloom sidecars, which [[TableCatalog
  * .buildBloomIndex]] adds to committed version dirs later ([[blooms]]
  * reads them on each call), and the vacuumable `_CDCLOG` entries
  * ([[TableCatalog.cdcFilesAt]]). This is Delta's DeltaLog/Snapshot
  * split. */
final class Snapshot private[catalog] (cat: TableCatalog, val fq: String,
    val version: Int) {

  /** The chain's data files in resolution order — the order the
    * catalog's own reads scan them in. */
  private[catalog] lazy val chain: Seq[DataFile] =
    cat.resolvedFlatFiles(fq, version).map { p =>
      val q = cat.qualified(p)
      val owner = cat.versionAncestor(q)
      val base = owner.toUri.getPath
      val full = q.toUri.getPath
      val rel = if (full.startsWith(base)) full.stripPrefix(base) else full
      val pairs = rel.split('/').toSeq.filter(_.contains('=')).map { seg =>
        val i = seg.indexOf('=')
        val raw = TableCatalog.unescapePath(seg.substring(i + 1))
        TableCatalog.unescapePath(seg.substring(0, i)) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
      }
      new DataFile(q.toString, full, owner, pairs, this)
    }

  /** The chain's data files, ordered by path. */
  lazy val files: IndexedSeq[DataFile] = chain.sortBy(_.path).toIndexedSeq

  lazy val byKey: Map[String, DataFile] = files.map(f => f.key -> f).toMap

  /** `subset` of this snapshot's files in resolution order. */
  private[catalog] def inChainOrder(subset: Seq[DataFile]): Seq[DataFile] = {
    val keys = subset.map(_.key).toSet
    chain.filter(f => keys(f.key))
  }

  /** Everything this snapshot's reads depend on — its data files and
    * DV sidecars — as the commit protocol's rebase guard takes them. */
  private[catalog] def readSet: (Seq[Path], Seq[Path]) =
    (chain.map(f => new Path(f.path)), dvFiles)

  /** DV sidecar files visible at this version (qualified). */
  lazy val dvFiles: Seq[Path] = cat.dvFiles(fq, version).map(cat.qualified)

  lazy val dvKeys: Set[String] = dvFiles.map(_.toUri.getPath).toSet

  /** Masked row indexes (sorted, distinct) per addressed file key —
    * entries addressing files no longer live are inert. */
  lazy val dvRows: Map[String, Array[Long]] = cat.dvPairs(dvFiles)

  lazy val partitionColumns: Seq[String] = cat.partitionColsOf(fq, version)

  def isPartitioned: Boolean = partitionColumns.nonEmpty

  def isBucketed: Boolean = partitionColumns.lastOption.contains(TableCatalog.BucketCol)

  lazy val bucketSpec: Option[(String, Int)] = cat.bucketSpecOf(fq, version)

  private lazy val actions = cat.schemaActions(fq).filter(_.version <= version)

  /** Column-mapping state: the fold of every schema action declared
    * at or below this version. */
  lazy val columnMapping: TableCatalog.ColumnMapping = {
    import TableCatalog._
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    val logical = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val dropped = scala.collection.mutable.LinkedHashSet.empty[String]
    actions.foreach {
      case AddAction(_, fields) => fields.foreach { f =>
        val phys = physicalNameOf(f)
        adds(phys) = f
        if (phys != f.name) logical(phys) = f.name else logical.remove(phys)
        dropped -= phys
      }
      case RenameAction(_, ph, to) =>
        if (ph == to) logical.remove(ph) else logical(ph) = to
        adds.get(ph).foreach(f => adds(ph) = f.copy(name = to))
      case DropAction(_, ph) =>
        dropped += ph; adds.remove(ph); logical.remove(ph)
      case ResetAction(_) =>
        adds.clear(); logical.clear(); dropped.clear()
      case _: ConstraintAddAction | _: ConstraintDropAction => ()
    }
    ColumnMapping(logical.toMap, dropped.toSet, adds.toSeq)
  }

  /** Constraints in effect (declaration order). */
  lazy val constraints: Seq[TableCatalog.Constraint] = {
    import TableCatalog._
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Constraint]
    actions.foreach {
      case ConstraintAddAction(_, nm, kind, arg) => acc(nm) = Constraint(nm, kind, arg)
      case ConstraintDropAction(_, nm) => acc.remove(nm)
      case ResetAction(_) => acc.clear()
      case _ => ()
    }
    acc.values.toSeq
  }

  /** PHYSICAL schema of the chain, before column mapping. Partitioned:
    * partition discovery's typed path columns, unioned across the
    * owning version dirs ([[TableCatalog.readByOwner]]). Flat: one
    * representative footer per owning version dir (files of one
    * commit come out of one writing job), unioned — an evolved chain
    * exposes every column, a safe widening (int→long, float→double)
    * resolves to the widest type, any other type conflict fails here
    * instead of mid-scan. */
  lazy val physicalSchema: StructType =
    if (isPartitioned) cat.readByOwner(fq, version, chain, None, identity).schema
    else {
      require(files.nonEmpty, s"graft table $fq v$version has no data files")
      val reps = files.groupBy(_.owner.toString).toSeq.sortBy(_._1)
        .map(_._2.map(_.path).min)
      reps.map(cat.footerSchemaOf).reduce { (a, b) =>
        val merged = scala.collection.mutable.ArrayBuffer.from(a.fields)
        b.fields.foreach { f =>
          merged.indexWhere(_.name == f.name) match {
            case i if i >= 0 =>
              val e = merged(i)
              if (e.dataType != f.dataType)
                TableCatalog.widerOf(e.dataType, f.dataType) match {
                  case Some(w) => merged(i) = e.copy(dataType = w)
                  case None => throw new IllegalStateException(
                    s"graft table $fq: column ${f.name} has conflicting " +
                      s"types across the chain (${e.dataType.simpleString} " +
                      s"vs ${f.dataType.simpleString}) — compact the table first")
                }
            case _ => merged += f
          }
        }
        StructType(merged.toSeq)
      }
    }

  /** LOGICAL schema: [[physicalSchema]] plus the declared (ALTER ADD)
    * columns no file carries yet, with dropped columns hidden, renamed
    * ones under their logical names and the bucket-routing column
    * removed. A declared column whose files carry another type widens
    * safely or fails loudly, like any footer conflict. */
  lazy val schema: StructType = {
    val m = columnMapping
    val declared = m.adds.foldLeft(physicalSchema) { case (acc, (phys, f)) =>
      acc.fields.indexWhere(_.name.equalsIgnoreCase(phys)) match {
        case i if i >= 0 =>
          val e = acc.fields(i)
          if (e.dataType == f.dataType) acc
          else TableCatalog.widerOf(e.dataType, f.dataType) match {
            case Some(w) => StructType(acc.fields.updated(i, e.copy(dataType = w)))
            case None => throw new IllegalStateException(
              s"graft table $fq: declared column ${f.name} " +
                s"(${f.dataType.simpleString}) conflicts with data files' " +
                s"${e.dataType.simpleString} — drop or compact first")
          }
        case _ => StructType(acc.fields :+ StructField(phys, f.dataType, nullable = true))
      }
    }
    StructType(declared.fields
      .filterNot(f => m.dropped.contains(f.name))
      .map(f => m.logicalOf.get(f.name).map(l => f.copy(name = l)).getOrElse(f))
      .filterNot(_.name == TableCatalog.BucketCol))
  }

  /** Bloom bitsets on PHYSICAL `column` per file key. Read on each
    * call (status-keyed per owning dir): a later index build adds
    * them to committed version dirs. */
  def blooms(column: String): Map[String, Array[Long]] = cat.bloomsOf(owners, column)

  /** The version dirs that wrote this snapshot's files. */
  private lazy val owners: Seq[Path] = files.map(_.owner).distinct

  private[catalog] lazy val sizes: Map[String, Long] = cat.fileSizes(chain)

  /** The owning dirs' `_STATS` statuses [[stats]] was read at. */
  @volatile private var statsRead: Seq[(Path, Option[(Long, Long)])] = Nil

  private[catalog] lazy val stats: Map[String, TableCatalog.FileStats] = {
    statsRead = owners.map(o => o -> cat.statsStatus(o))
    owners.flatMap(cat.statsOf).toMap
  }

  /** False once an owning dir's `_STATS` changed after [[stats]] read
    * it — the one input read from OUTSIDE this version's dir that is
    * not immutable (a sidecar deleted or rewritten out of band). */
  private[catalog] def current: Boolean =
    statsRead.forall { case (o, st) => cat.statsStatus(o) == st }
}
