package graft.connector

import scala.util.Try

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.TableCatalog

/** Hive-partition support for the DSv2 connector: raw `col=value`
  * path strings become typed Catalyst constants (matching Spark's
  * partition-discovery inference, which [[graft.catalog.Snapshot
  * .physicalSchema]] supplies), and pushed filters on partition
  * columns prune whole FILES at planning time — exact values, not
  * stats, so `WHERE day = X` over a day-partitioned 100 TB table
  * schedules only that day's files through plain `format("graft")`
  * SQL. */
object GraftPartitions {

  /** Catalyst-internal constant for a raw partition string under the
    * inferred column type (None = `__HIVE_DEFAULT_PARTITION__`). */
  def castValue(raw: Option[String], dt: DataType): Any = raw match {
    case None => null
    case Some(s) => dt match {
      case StringType  => UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType    => s.toLong
      case ShortType   => s.toShort
      case ByteType    => s.toByte
      case DoubleType  => s.toDouble
      case FloatType   => s.toFloat
      case BooleanType => s.toBoolean
      case DateType    => java.time.LocalDate.parse(s).toEpochDay.toInt
      case TimestampType => timestampMicros(s)
      case d: DecimalType =>
        org.apache.spark.sql.types.Decimal(BigDecimal(s), d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"graft partition column type $other")
    }
  }

  /** Hive partition timestamp string → micros since epoch, JVM-default
    * zone (how `DataFrameWriter.partitionBy` renders under the default
    * session timezone, and how [[GraftPartitionedDataWriter.render]]
    * writes) — `yyyy-MM-dd HH:mm:ss[.f…]` via `Timestamp.valueOf`. */
  private[connector] def timestampMicros(s: String): Long = {
    val t = java.sql.Timestamp.valueOf(s)
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  }

  /** Numeric/date ordering form of a raw partition value (None = not
    * orderable under dt). */
  private def partDecimal(raw: String, dt: DataType): Option[BigDecimal] =
    dt match {
      case IntegerType | LongType | ShortType | ByteType |
           DoubleType | FloatType | _: DecimalType =>
        Try(BigDecimal(raw)).toOption
      case DateType =>
        Try(BigDecimal(java.time.LocalDate.parse(raw).toEpochDay)).toOption
      case TimestampType =>
        Try(BigDecimal(timestampMicros(raw))).toOption
      case _ => None
    }

  private def strOf(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  /** MIN/MAX over raw partition values under the column's inferred
    * type, returned as the Catalyst-internal value (None = no non-null
    * values → SQL null). Powers metadata-answered aggregates over
    * partition columns: the answer comes from path strings alone. */
  def extreme(raws: Seq[String], dt: DataType, wantMin: Boolean): Option[Any] = {
    if (raws.isEmpty) return None
    val chosen = dt match {
      case StringType =>
        val ord = Ordering.comparatorToOrdering(
          new java.util.Comparator[String] {
            def compare(a: String, b: String): Int =
              TableCatalog.compareBytes(
                a.getBytes("UTF-8"), b.getBytes("UTF-8"))
          })
        if (wantMin) raws.min(ord) else raws.max(ord)
      case _ =>
        val keyed = raws.flatMap(r => partDecimal(r, dt).map(_ -> r))
        if (keyed.size != raws.size) return None // unorderable under dt
        if (wantMin) keyed.minBy(_._1)._2 else keyed.maxBy(_._1)._2
    }
    Some(castValue(Some(chosen), dt))
  }

  /** compare(partition value, filter value): None = incomparable
    * (keep the file — pruning is advisory). */
  private def cmp(raw: String, dt: DataType, v: Any): Option[Int] =
    (partDecimal(raw, dt), TableCatalog.statDecimal(v)) match {
      case (Some(a), Some(b)) => Some(a.compare(b))
      case _ => (dt, strOf(v)) match {
        case (StringType, Some(s)) => Some(TableCatalog.compareBytes(
          raw.getBytes("UTF-8"), s.getBytes("UTF-8")))
        case _ => None
      }
    }

  /** Can a file with partition values `pv` satisfy `f`? Exact where
    * the column is path-encoded and the values compare; conservative
    * `true` everywhere else (data-column filters, unknown shapes). A
    * null partition value fails every comparison (SQL semantics) but
    * satisfies IsNull. */
  def mayMatch(pv: Map[String, Option[String]],
      schema: StructType, f: Filter): Boolean = {
    def dtOf(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    def compared(c: String, v: Any)(keep: Int => Boolean): Boolean =
      (pv.get(c), dtOf(c)) match {
        case (Some(None), _) => false // null partition: comparison never true
        case (Some(Some(raw)), Some(dt)) =>
          cmp(raw, dt, v).map(keep).getOrElse(true)
        case _ => true // not path-encoded here: cannot prune
      }
    f match {
      case EqualTo(c, v)            => compared(c, v)(_ == 0)
      case EqualNullSafe(c, v) => pv.get(c) match {
        case Some(None) => v == null
        case Some(Some(raw)) => dtOf(c)
          .flatMap(dt => cmp(raw, dt, v)).map(_ == 0).getOrElse(true)
        case None => true
      }
      case In(c, vs)                => vs.exists(v => compared(c, v)(_ == 0))
      case GreaterThan(c, v)        => compared(c, v)(_ > 0)
      case GreaterThanOrEqual(c, v) => compared(c, v)(_ >= 0)
      case LessThan(c, v)           => compared(c, v)(_ < 0)
      case LessThanOrEqual(c, v)    => compared(c, v)(_ <= 0)
      case IsNull(c)    => pv.get(c).forall(_.isEmpty)
      case IsNotNull(c) => pv.get(c).forall(_.nonEmpty)
      case StringStartsWith(c, p) => pv.get(c) match {
        case Some(None) => false
        case Some(Some(raw)) if dtOf(c).contains(StringType) =>
          raw.startsWith(p)
        case _ => true
      }
      case And(l, r) => mayMatch(pv, schema, l) && mayMatch(pv, schema, r)
      case Or(l, r)  => mayMatch(pv, schema, l) || mayMatch(pv, schema, r)
      case Not(EqualTo(c, v)) => pv.get(c) match {
        case Some(None) => false // null <> v is never TRUE
        case Some(Some(raw)) => dtOf(c)
          .flatMap(dt => cmp(raw, dt, v)).map(_ != 0).getOrElse(true)
        case None => true
      }
      case _ => true
    }
  }
}
