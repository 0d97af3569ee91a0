package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: for every registered query, extract the plan
  * features that matter at scale — parquet filter pushdown, join
  * strategies, shuffle (exchange) count, whole-stage-codegen coverage —
  * and write a markdown table (PLANS.md when run with an output path).
  *
  * `runMain graft.PlanAudit <sfDir> [outFile]`
  */
object PlanAudit {

  final case class Audit(name: String, scans: Int, pushed: Int,
      broadcastJoins: Int, smjJoins: Int, exchanges: Int, wscg: Int,
      note: String = "")

  def audit(spark: SparkSession, sfDir: String,
      names: Seq[String]): Seq[Audit] =
    names.map { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect() // executes THIS plan (count() would build a new one), finalizing AQE
        // AQE prints "== Final Plan ==" then "== Initial Plan ==" — audit only the final
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        Audit(name,
          scans = count(plan, "Scan parquet"),
          pushed = count(plan, "PushedFilters: [") - count(plan, "PushedFilters: []"),
          broadcastJoins = count(plan, "BroadcastHashJoin") + count(plan, "BroadcastNestedLoopJoin"),
          smjJoins = count(plan, "SortMergeJoin"),
          exchanges = count(plan, "Exchange") - count(plan, "BroadcastExchange"),
          // codegen'd operators render as "*(n) Op" in the simple string
          wscg = count(plan, "*("))
      } catch {
        case e: Exception => Audit(name, 0, 0, 0, 0, 0, 0,
          s"plan failed: ${String.valueOf(e.getMessage).take(60)}")
      }
    }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1)
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = audit(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    val md = new StringBuilder
    md.append("# PLANS — physical-plan audit per registered query\n\n")
    md.append(s"Generated by `graft.PlanAudit` over `$sfDir`. Columns: parquet\n")
    md.append("scans / scans with pushed filters / broadcast joins / sort-merge\n")
    md.append("joins / shuffle exchanges / whole-stage-codegen spans.\n\n")
    md.append("| query | scans | pushed | bcast | smj | shuffles | wscg | note |\n")
    md.append("|---|---|---|---|---|---|---|---|\n")
    rows.foreach { a =>
      md.append(s"| ${a.name} | ${a.scans} | ${a.pushed} | ${a.broadcastJoins} " +
        s"| ${a.smjJoins} | ${a.exchanges} | ${a.wscg} | ${a.note} |\n")
    }
    md.append("\nNotes: q35/q93/q99/q194/q198 plans are the memory-sink table read (the\n")
    md.append("streaming query's own plan isn't captured here); q34 crosses a\n")
    md.append("mapPartitions boundary by design (stub media decode); pushed=0 rows are\n")
    md.append("scans with no filterable predicate. SortMergeJoin appears exactly where\n")
    md.append("intended: q83 (merge-hinted co-sorted fact join) and q90 (full-outer\n")
    md.append("version diff — not broadcastable by semantics); every other join\n")
    md.append("broadcasts at these dimension sizes, and at fact-fact scale AQE\n")
    md.append("re-plans to shuffled joins with skew handling. q196's audited plan is\n")
    md.append("the conf-restored re-execution (broadcast at this dim size); the bloom\n")
    md.append("injection evidence is baked into its hash-checked column in-query.\n")
    out match {
      case Some(f) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), md.toString)
        println(s"wrote $f")
      case None => println(md.toString)
    }
    spark.stop()
  }
}
