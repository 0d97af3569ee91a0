package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config._
import RefinedOps.resolve

/** CURATED-layer operators: config→Column compilers for the mapping
  * projection, filter WHERE clauses, lookup classification (a broadcast
  * existence join), and the per-field CRM value builder. Everything
  * compiles to built-in expressions so Catalyst can push/prune/broadcast.
  *
  * reference: SF_Notebooks/REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py
  */
object CuratedOps {

  /** Mapping-driven projection: target ← source with optional
    * concat_with+separator and fallback (COALESCE); unresolved sources
    * become NULL targets. reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1309-1366 */
  def mappingProjection(df: DataFrame, specs: Seq[MappingSpec]): DataFrame = {
    val cols = df.columns.toSeq
    val out = specs.map { m =>
      val srcCol = resolve(cols, m.source).map(col)
      val base = (srcCol, m.concatWith.flatMap(resolve(cols, _))) match {
        case (Some(s), Some(c2)) =>
          concat_ws(m.concatSeparator, coalesce(s, lit("")), coalesce(col(c2), lit("")))
        case (Some(s), None) => s
        case (None, _) => lit(null).cast("string")
      }
      val withFallback = m.fallback.flatMap(resolve(cols, _)) match {
        case Some(f) => coalesce(base, col(f))
        case None => base
      }
      withFallback.as(m.target)
    }
    df.select(out: _*)
  }

  /** Compile config filter conjuncts to one Column predicate.
    * Operators: = != <> > < >= <= LIKE, NOT LIKE, IN (comma-split),
    * IS NULL, IS NOT NULL; AND-combined.
    * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1267-1299 */
  def compileFilter(df: DataFrame, specs: Seq[FilterSpec]): Column = {
    val cols = df.columns.toSeq
    val conjuncts = specs.flatMap { f =>
      resolve(cols, f.column).map { c =>
        val x = col(c)
        f.operator.trim.toUpperCase match {
          case "=" => x === f.value
          case "!=" | "<>" => x =!= f.value
          case ">" => x > f.value
          case "<" => x < f.value
          case ">=" => x >= f.value
          case "<=" => x <= f.value
          case "LIKE" => x.like(f.value)
          case "NOT LIKE" => !x.like(f.value)
          case "IN" => x.isin(f.value.split(",").map(_.trim): _*)
          case "IS NULL" => x.isNull
          case "IS NOT NULL" => x.isNotNull
          case other => throw new IllegalArgumentException(s"unsupported filter operator: $other")
        }
      }
    }
    conjuncts.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Classify each source row by whether its key exists in a lookup
    * table: matchValue (UPDATE) when it does, noMatchValue (NEW) when
    * not (a null key never matches), in resultColumn. A correlated
    * EXISTS with a broadcast hint, which plans as a broadcast
    * existence join: one row per source row however often a key
    * repeats in the lookup, with no `distinct` shuffle over the
    * lookup. The outer key is an unbound `col(...).outer()`: a
    * Dataset-bound `src(srcKey)` fails analysis inside the subquery.
    * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1396-1421 */
  def lookupClassify(src: DataFrame, lookup: DataFrame, spec: LookupSpec): DataFrame = {
    val srcKey = resolve(src.columns.toSeq, spec.sourceKey)
      .getOrElse(throw new IllegalArgumentException(s"source key ${spec.sourceKey} not found"))
    val lkKey = resolve(lookup.columns.toSeq, spec.lookupKey)
      .getOrElse(throw new IllegalArgumentException(s"lookup key ${spec.lookupKey} not found"))
    // the outer key goes by a reserved name: a lookup column named like
    // the source key would capture the reference, outer() or not
    val known = lookup.hint("broadcast")
      .where(col(lkKey) === col("__src_key").outer()).exists()
    src.withColumn("__src_key", col(srcKey))
      .withColumn(spec.resultColumn,
        when(known, lit(spec.matchValue)).otherwise(lit(spec.noMatchValue)))
      .drop("__src_key")
  }

  /** Future-only filter: concat the configured datetime columns with the
    * separator, parse (unparseable → null → dropped, matching
    * TRY_TO_TIMESTAMP), keep rows strictly after `now`.
    * `now` is injected for determinism/testability rather than calling
    * current_timestamp() inside the expression.
    * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1539-1557 */
  def futureOnlyFilter(df: DataFrame, spec: FutureOnlySpec, now: Column): Column = {
    val cols = spec.datetimeColumns.flatMap(resolve(df.columns.toSeq, _)).map(col)
    if (cols.isEmpty) lit(true)
    else try_to_timestamp(concat_ws(spec.separator, cols: _*)) > now
  }

  /** Not-null & not-blank predicate (MBI presence check).
    * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1510-1512 */
  def presentAndNonBlank(c: Column): Column = c.isNotNull && trim(c) =!= ""

  /** Canceled-flag rule: status value in a set (case-insensitive) or
    * containing a substring (case-insensitive) → 'Y' else 'N'.
    * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:886-959 */
  def canceledFlag(status: Column, values: Seq[String], containsAny: Seq[String]): Column = {
    val inSet =
      if (values.isEmpty) lit(false)
      else upper(status).isin(values.map(_.toUpperCase): _*)
    val contains = containsAny
      .map(s => lower(status).contains(s.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
    when(status.isNotNull && (inSet || contains), lit("Y")).otherwise(lit("N"))
  }

  /** Per-field CRM value builder: direct source, concat list+separator,
    * coalesce list, case-insensitive value-remap transform, and
    * prefix/suffix — compiled to one Column.
    * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:417-470 */
  def fieldValue(df: DataFrame, spec: FieldValueSpec): Column = {
    val cols = df.columns.toSeq
    val base: Column =
      if (spec.concat.nonEmpty) {
        val parts = spec.concat.flatMap(resolve(cols, _)).map(c => coalesce(col(c), lit("")))
        concat_ws(spec.separator, parts: _*)
      } else if (spec.coalesce.nonEmpty) {
        val parts = spec.coalesce.flatMap(resolve(cols, _)).map(col)
        if (parts.isEmpty) lit(null).cast("string") else coalesce(parts: _*)
      } else spec.source.flatMap(resolve(cols, _)).map(col)
        .getOrElse(lit(null).cast("string"))

    val remapped =
      if (spec.transform.isEmpty) base
      else {
        // case-insensitive probe over the remap dict; unmatched pass through
        val chain = spec.transform.foldLeft(when(lit(false), lit(""))) {
          case (acc, (k, v)) => acc.when(lower(base) === k.toLowerCase, lit(v))
        }
        chain.otherwise(base)
      }

    if (spec.prefix.nonEmpty || spec.suffix.nonEmpty)
      concat(lit(spec.prefix), remapped, lit(spec.suffix))
    else remapped
  }

  /** Dummy-key synthesis when the natural key is blank:
    * NOMBI_{PatientNumber}. reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:767-779 */
  def dummyKey(natural: Column, fallbackId: Column, prefix: String = "NOMBI_"): Column =
    when(presentAndNonBlank(natural), natural)
      .otherwise(concat(lit(prefix), coalesce(fallbackId.cast("string"), lit(""))))
}
