package graft.connector

import org.apache.spark.sql.sources._

import graft.catalog.{DataFile, Snapshot, TableCatalog}

/** Spark source filters → Catalyst Columns, for the metadata-level DML
  * paths (SQL DELETE, replaceWhere). None = untranslatable — callers
  * must REJECT, never approximate. */
private[graft] object FilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col => c, lit}

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(c(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(c(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(c(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case LessThan(a, v)           => Some(c(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(c(a) <= lit(v))
    case In(a, vs)                => Some(c(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(c(a).isNull)
    case IsNotNull(a)             => Some(c(a).isNotNull)
    case StringStartsWith(a, v)   => Some(c(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(c(a).endsWith(v))
    case StringContains(a, v)     => Some(c(a).contains(v))
    case And(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(x) => toColumn(x).map(!_)
    case AlwaysTrue()  => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Conjunction of all filters; None if any leg is untranslatable. */
  def conjunction(filters: Seq[Filter]): Option[Column] = {
    val legs = filters.map(toColumn)
    if (legs.exists(_.isEmpty)) None
    else Some(legs.flatten.reduceOption(_ && _).getOrElse(lit(true)))
  }

  /** The inverse of [[toColumn]] for an ANALYZED predicate, limited
    * to the shapes [[FileSkipping]] can decide: each conjunct comparing
    * a top-level column with a constant (=, <, <=, >, >=, IN, prefix)
    * becomes a source filter, its values in Spark's external form as a
    * pushed filter carries them. Any other conjunct is left out — for
    * skipping, a missing conjunct only keeps files. */
  def fromExpression(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => E}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala
    object Attr {
      def unapply(x: E.Expression): Option[String] = x match {
        // `_STATS` string bounds are byte-ordered: only the default
        // (binary) collation compares the same way
        case a: E.AttributeReference if (a.dataType match {
            case st: org.apache.spark.sql.types.StringType =>
              st == org.apache.spark.sql.types.StringType
            case _ => true
          }) => Some(a.name)
        case _ => None
      }
    }
    object Const {
      def unapply(x: E.Expression): Option[Any] =
        if (!x.foldable) None
        else try Some(convertToScala(x.eval(), x.dataType))
        catch { case _: Exception => None } // e.g. an ANSI cast error
    }
    def leg(x: E.Expression): Option[Filter] = x match {
      case E.EqualTo(Attr(a), Const(v))            => Some(EqualTo(a, v))
      case E.EqualTo(Const(v), Attr(a))            => Some(EqualTo(a, v))
      case E.GreaterThan(Attr(a), Const(v))        => Some(GreaterThan(a, v))
      case E.GreaterThan(Const(v), Attr(a))        => Some(LessThan(a, v))
      case E.GreaterThanOrEqual(Attr(a), Const(v)) => Some(GreaterThanOrEqual(a, v))
      case E.GreaterThanOrEqual(Const(v), Attr(a)) => Some(LessThanOrEqual(a, v))
      case E.LessThan(Attr(a), Const(v))           => Some(LessThan(a, v))
      case E.LessThan(Const(v), Attr(a))           => Some(GreaterThan(a, v))
      case E.LessThanOrEqual(Attr(a), Const(v))    => Some(LessThanOrEqual(a, v))
      case E.LessThanOrEqual(Const(v), Attr(a))    => Some(GreaterThanOrEqual(a, v))
      case E.In(Attr(a), vs) =>
        val cs = vs.map(Const.unapply)
        if (cs.forall(_.isDefined)) Some(In(a, cs.flatten.toArray)) else None
      case E.StartsWith(Attr(a), Const(v: String)) => Some(StringStartsWith(a, v))
      case _ => None
    }
    def conjuncts(x: E.Expression): Seq[E.Expression] = x match {
      case E.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other       => Seq(other)
    }
    conjuncts(e).flatMap(leg)
  }

  /** Rewrite attribute names through a logical→physical map (column
    * mapping): `_STATS`/`_BLOOMS` sidecars and parquet footers key by
    * the PHYSICAL column name, so pushed filters must translate before
    * they drive file or row-group elimination. Unknown filter shapes
    * pass through untouched (they are only ever used advisorily). */
  def mapAttrs(f: Filter, m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    def n(a: String) = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v)            => EqualTo(n(a), v)
      case EqualNullSafe(a, v)      => EqualNullSafe(n(a), v)
      case GreaterThan(a, v)        => GreaterThan(n(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(n(a), v)
      case LessThan(a, v)           => LessThan(n(a), v)
      case LessThanOrEqual(a, v)    => LessThanOrEqual(n(a), v)
      case In(a, vs)                => In(n(a), vs)
      case IsNull(a)                => IsNull(n(a))
      case IsNotNull(a)             => IsNotNull(n(a))
      case StringStartsWith(a, v)   => StringStartsWith(n(a), v)
      case StringEndsWith(a, v)     => StringEndsWith(n(a), v)
      case StringContains(a, v)     => StringContains(n(a), v)
      case And(l, r) => And(mapAttrs(l, m), mapAttrs(r, m))
      case Or(l, r)  => Or(mapAttrs(l, m), mapAttrs(r, m))
      case Not(x)    => Not(mapAttrs(x, m))
      case other     => other
    }
  }
}

/** Planning-time file elimination shared by the connector's batch scan
  * and streaming source: a file survives unless the `_STATS` [min,max]
  * interval proves a pushed comparison impossible or the `_BLOOMS`
  * bitset excludes an equality value. Missing sidecars ⇒ keep (the
  * skipping is advisory — Spark re-applies every filter row-level). */
private[graft] object FileSkipping {

  private def flatten(f: Filter): Seq[Filter] = f match {
    case And(l, r) => flatten(l) ++ flatten(r)
    case other     => Seq(other)
  }

  /** UTF-8 bytes of a string-typed predicate value (None = not a
    * string) — compared against the `s:` truncation-safe bounds in
    * unsigned byte order, which IS Spark's string order. */
  private def strBytes(x: Any): Option[Array[Byte]] = x match {
    case s: String => Some(s.getBytes("UTF-8"))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.getBytes)
    case _ => None
  }

  /** May an entity (file or row group) whose per-column bounds are
    * given by `bounds` (numeric, `_STATS` convention) and `sbounds`
    * (truncation-safe string) satisfy every conjunct in `active`?
    * `bloomEqual` further tests point values where a bitset exists
    * (file level only — row groups carry no blooms). Missing bounds
    * keep the entity: the skipping is advisory. */
  private def mayMatchBounds(active: Seq[Filter],
      bounds: String => Option[(BigDecimal, BigDecimal)],
      sbounds: String => Option[(Array[Byte], Option[Array[Byte]])],
      bloomEqual: (String, Any) => Boolean): Boolean = {
    // numerics identity, dates as epoch days, timestamps as epoch
    // micros — the `_STATS` storage convention
    def statVal(x: Any): Option[BigDecimal] = TableCatalog.statDecimal(x)
    /** may the entity hold a string value within [lo, hi]? */
    def strOverlap(col: String, lo: Option[Array[Byte]],
        hi: Option[Array[Byte]]): Boolean = sbounds(col) match {
      case Some((lower, upper)) =>
        TableCatalog.stringRangeOverlaps(lower, upper, lo, hi)
      case None => true
    }
    def mayEqual(col: String, x: Any): Boolean = {
      val statOk = (statVal(x), bounds(col)) match {
        case (Some(v0), Some((mn, mx))) => v0 >= mn && v0 <= mx
        case _ => strBytes(x) match { // string point ∈ [lower, upper]
          case Some(b) => strOverlap(col, Some(b), Some(b))
          case None => true
        }
      }
      statOk && bloomEqual(col, x)
    }
    active.forall {
      case EqualTo(col, x) => mayEqual(col, x)
      case In(col, xs)     => xs.exists(x => mayEqual(col, x))
      case GreaterThan(col, x) => (statVal(x), bounds(col)) match {
        case (Some(v0), Some((_, mx))) => mx > v0
        case _ => strBytes(x) match {
          // x < value ⇔ the entity reaches above x: NOT(upper ≤ x);
          // conservative via overlap with (x, +∞) — upper ≥ max, so
          // upper < x ⇒ every value < x ⇒ skip is sound (upper = x
          // keeps the entity: the truncated bound cannot prove strict)
          case Some(b) => strOverlap(col, Some(b), None)
          case None => true
        }
      }
      case GreaterThanOrEqual(col, x) => (statVal(x), bounds(col)) match {
        case (Some(v0), Some((_, mx))) => mx >= v0
        case _ => strBytes(x) match {
          case Some(b) => strOverlap(col, Some(b), None)
          case None => true
        }
      }
      case LessThan(col, x) => (statVal(x), bounds(col)) match {
        case (Some(v0), Some((mn, _))) => mn < v0
        case _ => strBytes(x) match {
          // lower > x ⇒ every value > x ⇒ skip; lower = x keeps
          case Some(b) => strOverlap(col, None, Some(b))
          case None => true
        }
      }
      case LessThanOrEqual(col, x) => (statVal(x), bounds(col)) match {
        case (Some(v0), Some((mn, _))) => mn <= v0
        case _ => strBytes(x) match {
          case Some(b) => strOverlap(col, None, Some(b))
          case None => true
        }
      }
      case StringStartsWith(col, prefix) =>
        // prefix predicate = range [prefix, successor(prefix)):
        // the ID-prefixed-key case — skip every entity whose bounds
        // cannot reach the prefix block
        val p0 = prefix.getBytes("UTF-8")
        strOverlap(col, Some(p0),
          TableCatalog.truncUpper(p0 ++ Array.fill(
            TableCatalog.StringStatBytes)(0xff.toByte)))
      case _ => true
    }
  }

  /** THE file pruning of a snapshot — the scan's planning and the
    * catalog's copy-on-write candidates both go through here: the
    * files that may hold a row satisfying every conjunct of `filters`
    * (PHYSICAL names). A file whose `_STATS` records zero rows never
    * survives (truncate / CREATE schema markers, empty commits); the
    * rest must pass exact partition-value pruning, bucket pruning (a
    * point predicate on a bucket(n, key) layout's source column maps
    * to the one bucket dir that can hold it) and [[surviving]]. */
  def prune(s: Snapshot, filters: Seq[Filter]): Seq[DataFile] = {
    val active = filters.flatMap(flatten)
    val live = s.files.filterNot(_.rows.contains(0L))
    if (active.isEmpty || live.isEmpty) return live
    val pcols = s.partitionColumns.toSet
    val afterPart =
      if (!active.exists(_.references.exists(pcols))) live
      else live.filter { f =>
        val pv = f.partitionValues.toMap
        pv.isEmpty || active.forall(GraftPartitions.mayMatch(pv, s.physicalSchema, _))
      }
    val bucketIds = (if (s.isBucketed) s.bucketSpec else None).flatMap { case (bc, n) =>
      val values = active.collect {
        case EqualTo(`bc`, v) => Seq(v)
        case EqualNullSafe(`bc`, v) => Seq(v)
        case In(`bc`, vs) => vs.toSeq
      }
      if (values.isEmpty) None
      else s.physicalSchema.find(_.name == bc).map(f => values
        .map(_.map(GraftBucketFunction.bucketIdOf(_, f.dataType, n)).toSet)
        .reduce(_ intersect _))
    }
    val afterBucket = bucketIds match {
      case Some(ids) => afterPart.filter(_.partitionValues.toMap
        .get(TableCatalog.BucketCol).flatten.forall(b => ids(b.toInt)))
      case None => afterPart
    }
    surviving(s, afterBucket, active)
  }

  /** `files` whose `_STATS` bounds and `_BLOOMS` bitsets do not rule
    * out `filters` (missing sidecar ⇒ keep). */
  def surviving(s: Snapshot, files: Seq[DataFile],
      filters: Seq[Filter]): Seq[DataFile] = {
    val active = filters.flatMap(flatten)
    if (active.isEmpty || files.isEmpty) return files
    val bloomCols = active.flatMap {
      case EqualTo(col, _) => Some(col)
      case In(col, _)      => Some(col)
      case _ => None
    }.distinct
    val blooms: Map[String, Map[String, Array[Long]]] =
      bloomCols.map(col => col -> s.blooms(col)).toMap
    def str(x: Any): String = x match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => String.valueOf(other)
    }
    files.filter { f =>
      def bloomEqual(col: String, x: Any): Boolean =
        blooms.get(col).flatMap(_.get(f.key)) match {
          case Some(bits) => x match {
            case _: Byte | _: Short | _: Int | _: Long | _: String |
                 _: org.apache.spark.unsafe.types.UTF8String =>
              TableCatalog.bloomMayContain(bits, str(x))
            case _ => true
          }
          case None => true
        }
      mayMatchBounds(active, f.stats.get, f.stringStats.get, bloomEqual)
    }
  }

  /** ROW-GROUP pruning inside multi-group files: for each file whose
    * `_STATS` carries per-group `g:`/`gs:` bounds AND where at least
    * one group is provably predicate-free, the coalesced byte windows
    * of the SURVIVING groups (adjacent survivors merge into one
    * window). Files absent from the result plan normally — either
    * single-group, stats-free, or nothing to prune. `Nil` = every
    * group eliminated: the file schedules no work (sound even after
    * file-level skipping, which only sees the union bounds). */
  def rowGroupRanges(files: Seq[DataFile], filters: Seq[Filter])
      : Map[String, Seq[(Long, Long)]] = {
    val active = filters.flatMap(flatten)
    if (active.isEmpty) return Map.empty
    files.flatMap { f =>
      Some(f.rowGroups).filter(_.nonEmpty).flatMap { groups =>
        // Only prune when EVERY recorded group carries the `__rows`
        // marker harvestStats writes unconditionally per block of a
        // multi-group file. Marker-era stats are complete (a block
        // with no stats-eligible chunks still parses, bound-free ⇒
        // kept); marker-less entries are legacy harvests where a
        // stats-less block is simply ABSENT from the map — pruning
        // against those would silently drop its bytes. Plan blind.
        val complete = groups.forall(_.numeric.contains("__rows"))
        val kept = groups.filter(g => mayMatchBounds(active,
          g.numeric.get, g.strings.get, (_, _) => true))
        if (!complete || kept.size == groups.size) None // plan blind
        else {
          // merge byte-adjacent survivors (groups are laid out in
          // file order; a pruned group's midpoint sits strictly above
          // the previous survivor's end, so the windows exclude it).
          // max() keeps the merge monotone even if stats lines ever
          // yield nested/overlapping extents — a later group ending
          // before the current window end must not shrink it.
          val merged = kept.sortBy(_.start)
            .foldLeft(List.empty[(Long, Long)]) {
              case ((s0, l0) :: tail, g) if s0 + l0 >= g.start =>
                (s0, math.max(s0 + l0, g.start + g.length) - s0) :: tail
              case (acc, g) => (g.start, g.length) :: acc
            }.reverse
          Some(f.key -> merged)
        }
      }
    }.toMap
  }
}
