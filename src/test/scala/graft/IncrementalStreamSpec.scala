package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config._
import graft.streaming.IncrementalRefined

class IncrementalStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val target = TargetSpec(
    rawTable = None, loadMode = "append", refinedTable = None,
    regexReplace = Seq(RegexReplaceSpec("status", Seq(
      RegexRule(None, "ok", "GOOD")))),
    reformat = Nil, columnStrip = Nil,
    curatedTable = None, curatedMapping = Nil, curatedLookup = None,
    sourceFilter = Nil, sync = None)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("status", StringType)))

  test("checkpointed stream consumes each RAW file exactly once across restarts") {
    val rawDir = tempDir("raw")
    val refinedDir = tempDir("refined")
    val ckpt = tempDir("ckpt")

    Seq((1L, "ok"), (2L, "bad")).toDF("id", "status")
      .coalesce(1).write.mode("append").parquet(rawDir)
    IncrementalRefined.drainOnce(spark, rawDir, refinedDir, ckpt, target, schema, "r1")

    val first = spark.read.parquet(refinedDir)
    assert(first.count() == 2)
    // refined transform applied + metadata attached
    assert(first.columns.toSet == Set("ID", "STATUS", "IS_VALID", "REFINED_PARENT_RUN_ID"))
    assert(first.filter(col("STATUS") === "GOOD").count() == 1)

    // second batch of files: only the new rows flow (exactly-once)
    Seq((3L, "ok")).toDF("id", "status")
      .coalesce(1).write.mode("append").parquet(rawDir)
    IncrementalRefined.drainOnce(spark, rawDir, refinedDir, ckpt, target, schema, "r2")
    val second = spark.read.parquet(refinedDir)
    assert(second.count() == 3) // not 5 — first files not reprocessed

    // drain with no new input is a no-op
    IncrementalRefined.drainOnce(spark, rawDir, refinedDir, ckpt, target, schema, "r3")
    assert(spark.read.parquet(refinedDir).count() == 3)
  }

  test("pipeline streaming-refined stage replaces the flag machine") {
    import graft.catalog.TableCatalog
    import graft.plans.{Pipeline, RunContext, StreamingRefinedDirs}
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val dirs = StreamingRefinedDirs(tempDir("sref"), tempDir("sckpt"))
    def drop(name: String, rows: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(stage, name),
        s"id,status\n$rows".getBytes("UTF-8"))
    val cfg =
      """{"Practices": [{"practice_name": "p", "ingest": [{
           "file_type": "T", "source_type": "file",
           "source": {"file_pattern": ".*\\.csv$", "delimiter": ","},
           "snowflake": {"database": "R", "schema": "S", "table": "T",
             "load_mode": "append",
             "refined_database": "RF", "refined_schema": "S", "refined_table": "T",
             "column_regex_replace": [{"column": "status", "rules": [
               {"search": "ok", "replace": "GOOD"}]}]}}]}]}"""
    val spec = IngestConfig.parse(cfg).practices.head.ingest.head

    val arc = tempDir("arc")
    drop("a.csv", "1,ok\n2,bad\n")
    val p = new Pipeline(spark, cat, streamingRefined = Some(dirs))
    val r1 = p.run(RunContext(), "p", spec, stage, None, Some(arc))
    assert(r1.map(_._1) == Seq("RAW", "REFINED_STREAM"))
    assert(r1.forall(_._2.status == "SUCCESS"))
    val refined1 = spark.read.parquet(dirs.refinedDir)
    assert(refined1.count() == 2)
    assert(refined1.filter(col("STATUS") === "GOOD").count() == 1)
    // no flag rewrite happened: RAW rows keep IS_NEW=1, version stays 0
    assert(cat.read("R.S.T").filter(col("IS_NEW") === 1).count() == 2)
    assert(cat.version("R.S.T").contains(0))

    // second drop streams only the delta (checkpointed exactly-once)
    drop("b.csv", "3,ok\n")
    val r2 = p.run(RunContext(), "p", spec, stage, None, Some(arc))
    assert(r2.map(_._1) == Seq("RAW", "REFINED_STREAM"))
    assert(r2.last._2.rowCount == 1)
    assert(spark.read.parquet(dirs.refinedDir).count() == 3)
  }

  test("streaming-refined drains count their own rows, reading no earlier refined file") {
    import graft.catalog.TableCatalog
    import graft.plans.{Pipeline, RunContext, StreamingRefinedDirs}
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val dirs = StreamingRefinedDirs(tempDir("sref"), tempDir("sckpt"))
    val cfg =
      """{"Practices": [{"practice_name": "p", "ingest": [{
           "file_type": "T", "source_type": "file",
           "source": {"file_pattern": ".*\\.csv$", "delimiter": ","},
           "snowflake": {"database": "R", "schema": "S", "table": "T",
             "load_mode": "append",
             "refined_database": "RF", "refined_schema": "S", "refined_table": "T"}}]}]}"""
    val spec = IngestConfig.parse(cfg).practices.head.ingest.head
    val p = new Pipeline(spark, cat, streamingRefined = Some(dirs))
    val arc = tempDir("arc")
    def drain(rows: Int): Long = {
      java.nio.file.Files.write(java.nio.file.Paths.get(stage, s"d$rows.csv"),
        (1 to rows).map(i => s"$i,ok").mkString("id,status\n", "\n", "\n")
          .getBytes("UTF-8"))
      val r = p.run(RunContext(), "p", spec, stage, None, Some(arc))
      assert(r.map(_._1) == Seq("RAW", "REFINED_STREAM"))
      r.last._2.rowCount
    }
    assert(drain(2) == 2)
    // the refined store's data files: opened by no later drain
    val (counts, ops) = CountingLocalFileSystem.watching(s"${dirs.refinedDir}/part-") {
      Seq(drain(3), drain(1))
    }
    assert(counts == Seq(3L, 1L))
    assert(ops.getOrElse("open", 0L) == 0L, ops)
    assert(spark.read.parquet(dirs.refinedDir).count() == 6)
  }
}
