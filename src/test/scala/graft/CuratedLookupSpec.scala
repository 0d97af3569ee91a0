package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.config.LookupSpec
import graft.operators.CuratedOps

/** `CuratedOps.lookupClassify` as a broadcast existence join: the same
  * rows as the LEFT JOIN to the lookup's distinct keys it replaces. */
class CuratedLookupSpec extends SparkTestBase {
  import spark.implicits._

  /** The former classification: LEFT JOIN to the broadcast distinct
    * lookup keys. */
  private def viaDistinctJoin(src: DataFrame, lookup: DataFrame,
      srcKey: String, lkKey: String, spec: LookupSpec): DataFrame = {
    val lk = broadcast(lookup.select(col(lkKey).as("__lk_key")).distinct())
    src.join(lk, src(srcKey) === lk("__lk_key"), "left")
      .withColumn(spec.resultColumn,
        when(col("__lk_key").isNotNull, lit(spec.matchValue))
          .otherwise(lit(spec.noMatchValue)))
      .drop("__lk_key")
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map((r: Row) => r.toSeq).groupBy(identity)
      .map { case (k, v) => k -> v.size }

  private def spec(srcKey: String, lkKey: String) =
    LookupSpec("LK.S.T", srcKey, lkKey, "RECORD_TYPE", "UPDATE", "NEW")

  private val src = Seq(("1", "a"), ("2", "b"), (null, "c"), ("2", "d"), ("4", "e"))
    .toDF("ID", "V")

  private def check(lookup: DataFrame, lkKey: String,
      want: Map[String, String]): Unit = {
    val s = spec("ID", lkKey)
    val got = CuratedOps.lookupClassify(src, lookup, s)
    assert(got.columns.toSeq == Seq("ID", "V", "RECORD_TYPE"))
    assert(multiset(got) == multiset(viaDistinctJoin(src, lookup, "ID", lkKey, s)))
    assert(got.select("V", "RECORD_TYPE").as[(String, String)].collect().toMap == want)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("HashAggregate"),
      plan)
  }

  test("null source keys are NEW; null and duplicate lookup keys give one row each") {
    val lookup = Seq("2", "2", null, "1", "1", "9").toDF("KNOWN_ID")
    check(lookup, "KNOWN_ID", Map("a" -> "UPDATE", "b" -> "UPDATE", "c" -> "NEW",
      "d" -> "UPDATE", "e" -> "NEW"))
  }

  test("an empty lookup classifies every row NEW") {
    val lookup = Seq.empty[String].toDF("KNOWN_ID")
    check(lookup, "KNOWN_ID", Map("a" -> "NEW", "b" -> "NEW", "c" -> "NEW",
      "d" -> "NEW", "e" -> "NEW"))
  }

  test("a source key named like the lookup key resolves each on its own side") {
    val lookup = Seq(("4", "x"), ("4", "y")).toDF("ID", "V")
    check(lookup, "ID", Map("a" -> "NEW", "b" -> "NEW", "c" -> "NEW",
      "d" -> "NEW", "e" -> "UPDATE"))
  }

  test("the classification plans as a broadcast existence join") {
    val lookup = Seq("2", "1").toDF("KNOWN_ID")
    val got = CuratedOps.lookupClassify(src, lookup, spec("ID", "KNOWN_ID"))
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("ExistenceJoin"), plan)
  }
}
