package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.config._
import graft.plans._

/** End-to-end medallion flow over synthetic CSVs (werter/adcs-shaped
  * fixtures per FIXTURES.md — all data synthetic). */
class PipelineSpec extends SparkTestBase {

  private def writeFile(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  private val configJson =
    """{
      "Practices": [
        {
          "practice_name": "testpractice",
          "ingest": [
            {
              "file_type": "AppointmentData",
              "source_type": "file",
              "source": {"container": "inbound", "directory": "appt",
                         "file_pattern": ".*\\.csv$", "delimiter": ","},
              "precheck": {"expected_columns": ["Appt Provider", "Appt Location", "appt_id", "Appt Status"],
                           "min_row_count": 1, "require_all_columns": true,
                           "allow_extra_columns": false, "case_sensitive_headers": false},
              "snowflake": {
                "database": "RAWDB", "schema": "S", "table": "APPT",
                "load_mode": "append",
                "refined_database": "REFDB", "refined_schema": "S", "refined_table": "APPT",
                "column_regex_replace": [
                  {"column": "Appt Location", "rules": [
                    {"match_substring": "Springfield", "search": "Springfield",
                     "replace": "LOC_Springfield"}]}],
                "column_reformat": [
                  {"column": "Appt Provider", "type": "split_reorder", "split_by": ",",
                   "part_order": [1, 0], "join_with": " ", "trim_parts": true}],
                "column_strip": [{"column": "appt_id", "chars": "{}"}],
                "curated_database": "CURDB", "curated_schema": "S", "curated_table": "APPT",
                "curated_column_mapping": [
                  {"target": "PROVIDER", "source": "APPT_PROVIDER"},
                  {"target": "OFFICE", "source": "APPT_LOCATION"},
                  {"target": "APPT_ID", "source": "APPT_ID"}],
                "curated_lookup": {
                  "lookup_table": "LK.S.PATIENTS", "source_key": "APPT_ID",
                  "lookup_key": "KNOWN_ID", "result_column": "RECORD_TYPE",
                  "match_value": "UPDATE", "no_match_value": "NEW"},
                "source_filter": [{"column": "APPT_STATUS", "operator": "!=", "value": "Deleted"}],
                "dataverse_sync": {"enabled": true, "batch_size": 2,
                  "field_mapping": {
                    "crm_provider": "PROVIDER",
                    "crm_office_tag": {"source": "OFFICE", "prefix": "OFF_"}}}
              }
            }
          ]
        }
      ]
    }"""

  test("config parses into the typed model") {
    val cfg = IngestConfig.parse(configJson)
    assert(cfg.practices.map(_.practiceName) == Seq("testpractice"))
    val spec = cfg.practices.head.ingest.head
    assert(spec.target.rawTable.contains("RAWDB.S.APPT"))
    assert(spec.target.reformat.head.partOrder == Seq(1, 0))
    assert(spec.target.sync.get.fieldMappings("crm_office_tag").prefix == "OFF_")
    assert(spec.precheck.get.expectedColumns.length == 4)
  }

  test("full RAW -> REFINED -> CURATED flow with flag state machine") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    writeFile(stage, "appts_1.csv",
      """appt_id,Appt Provider,Appt Location,Appt Status
        |{A1},"Smith, Pat",Springfield Clinic,Scheduled
        |{B2},"Lee, Sam",Downtown,Scheduled
        |{C3},"Chu, Kim",Springfield Annex,Deleted
        |""".stripMargin)
    val cfg = IngestConfig.parse(configJson)
    val spec = cfg.practices.head.ingest.head

    import spark.implicits._
    cat.append("LK.S.PATIENTS", Seq("A1").toDF("KNOWN_ID"))

    val sink = new RecordingCrmSinkForTest
    val ctx = RunContext()
    val results = new Pipeline(spark, cat, None, sink).run(ctx, "testpractice", spec, stage)
    assert(results.map(_._1) == Seq("PRECHECK", "RAW", "REFINED", "CURATED"))
    assert(results.forall(_._2.status == "SUCCESS"))

    // RAW: metadata + IS_NEW consumed by refined stage
    val raw = cat.read("RAWDB.S.APPT")
    assert(raw.count() == 3)
    assert(raw.filter(col("IS_NEW") === 1).count() == 0) // cleared post-refined
    assert(raw.select("file_name").distinct().as[String].collect().toSet == Set("appts_1.csv"))

    // REFINED: uppercase names, transforms applied, IS_VALID consumed
    val refined = cat.read("REFDB.S.APPT")
    assert(refined.columns.contains("APPT_PROVIDER"))
    val providers = refined.select("APPT_PROVIDER").as[String].collect().toSet
    assert(providers == Set("Pat Smith", "Sam Lee", "Kim Chu")) // split_reorder
    val ids = refined.select("APPT_ID").as[String].collect().toSet
    assert(ids == Set("A1", "B2", "C3")) // braces stripped
    val locs = refined.select("APPT_LOCATION").as[String].collect().toSet
    assert(locs.contains("LOC_Springfield Clinic")) // regex rule
    assert(refined.filter(col("IS_VALID") === 1).count() == 0) // consumed

    // CURATED: filter dropped the Deleted row; lookup classified records
    val curated = cat.read("CURDB.S.APPT")
    assert(curated.count() == 2)
    val types = curated.select("APPT_ID", "RECORD_TYPE").as[(String, String)].collect().toMap
    assert(types == Map("A1" -> "UPDATE", "B2" -> "NEW"))
    assert(curated.columns.contains("SOURCE_PRACTICE"))

    // CRM sink saw the field-mapped payload (batch_size=2 → 1 batch)
    assert(sink.batches.size == 1)
    val fields = sink.batches.head.map(_.fields)
    assert(fields.flatMap(_.get("crm_office_tag")).exists(_.startsWith("OFF_")))
  }

  test("accepted pipeline run commits the ingest log once per stage") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    Seq("a.csv", "b.csv").foreach(f => writeFile(stage, f,
      s"appt_id,Appt Provider,Appt Location,Appt Status\n{$f},P,L,Scheduled\n"))
    // CRM sync off: its own log row would be a fifth stage commit
    val spec = IngestConfig.parse(configJson.replace(
      "\"enabled\": true", "\"enabled\": false")).practices.head.ingest.head
    assert(!spec.target.sync.exists(_.enabled))
    import spark.implicits._
    cat.append("LK.S.PATIENTS", Seq("zz").toDF("KNOWN_ID"))
    val logTable = "LOGDB.S.INGEST_LOG"
    val log = new IngestLog(spark, cat, logTable)
    log.log(RunContext(), "p", "F", "SEED", "SUCCESS") // the table exists
    val v0 = cat.version(logTable).get
    val ctx = RunContext()
    val results = new Pipeline(spark, cat, Some(log)).run(ctx, "p", spec, stage)
    assert(results.map(_._1) == Seq("PRECHECK", "RAW", "REFINED", "CURATED"))
    assert(results.forall(_._2.status == "SUCCESS"))
    // PRECHECK (both files' checks in one commit), RAW, REFINED, CURATED
    assert(cat.version(logTable).contains(v0 + 4))
    val steps = cat.read(logTable).filter(col("PARENT_RUN_ID") === ctx.parentRunId)
      .select("STEP_NAME").as[String].collect().toSeq
    assert(steps.count(_.startsWith("PRECHECK:")) == 2 * 9)
    assert(steps.filterNot(_.startsWith("PRECHECK:")).sorted ==
      Seq("CURATED_LOAD", "RAW_LOAD", "REFINED_LOAD"))
  }

  test("curated flag clear is scoped to consumed runs (read-clear race)") {
    val root = tempDir("wh")
    val cat = new TableCatalog(spark, root)
    val stage = tempDir("stage")
    writeFile(stage, "a.csv",
      """appt_id,Appt Provider,Appt Location,Appt Status
        |{X},"P, Q",L,Scheduled
        |""".stripMargin)
    val cfg = IngestConfig.parse(configJson)
    val spec = cfg.practices.head.ingest.head
    import spark.implicits._
    cat.append("LK.S.PATIENTS", Seq("zz").toDF("KNOWN_ID"))
    new Pipeline(spark, cat).run(RunContext(), "p", spec, stage)
    val refinedT = "REFDB.S.APPT"
    assert(cat.read(refinedT).filter(col("IS_VALID") === 1).count() == 0)

    // flag a fresh batch for run A
    val rowA = cat.read(refinedT).limit(1)
      .withColumn("IS_VALID", lit(1))
      .withColumn("REFINED_PARENT_RUN_ID", lit("runA"))
      .withColumn("APPT_ID", lit("RACE_A"))
    cat.append(refinedT, rowA)

    // a catalog that simulates a concurrent writer: the moment the
    // curated stage pins its read snapshot, a row from ANOTHER refined
    // run lands in the table
    val racing = new TableCatalog(spark, root) {
      private var injected = false
      override def read(fq: String): org.apache.spark.sql.DataFrame = {
        val snapshot = super.read(fq)
        if (fq == refinedT && !injected) {
          injected = true
          super.append(fq, snapshot.limit(1)
            .withColumn("IS_VALID", lit(1))
            .withColumn("REFINED_PARENT_RUN_ID", lit("runLate"))
            .withColumn("APPT_ID", lit("RACE_LATE")))
        }
        snapshot
      }
    }
    val r = new CuratedStage(spark, racing).run(RunContext(), "p", spec)
    assert(r.status == "SUCCESS")
    // the mid-stage row survives the clear (blanket IS_VALID=1 would
    // have zeroed it — the reference's race)
    val still = cat.read(refinedT).filter(col("IS_VALID") === 1)
    assert(still.select("REFINED_PARENT_RUN_ID").as[String].collect().toSeq
      == Seq("runLate"))
    // and the next pass consumes it normally
    new CuratedStage(spark, racing).run(RunContext(), "p", spec)
    assert(cat.read(refinedT).filter(col("IS_VALID") === 1).count() == 0)
  }

  test("second run with no new files is a clean no-op for refined") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    writeFile(stage, "a.csv", "appt_id,Appt Provider,Appt Location,Appt Status\n{X},P,L,S\n")
    val cfg = IngestConfig.parse(configJson)
    val spec = cfg.practices.head.ingest.head
    import spark.implicits._
    cat.append("LK.S.PATIENTS", Seq("zz").toDF("KNOWN_ID"))
    new Pipeline(spark, cat).run(RunContext(), "p", spec, stage)
    // rerun refined directly: no IS_NEW rows left
    val r = new RefinedStage(spark, cat).run(RunContext(), "p", spec)
    assert(r.status == "SKIPPED")
  }
}

/** Spark serializes task closures even in local mode, so instance state
  * mutated on executors is a deserialized copy. Record through a
  * JVM-static store instead (valid in local[*]: one shared JVM). */
class RecordingCrmSinkForTest extends CrmSink {
  RecordingCrmSinkForTest.store.clear()
  def deliver(batch: Seq[CrmOp]): Seq[Int] = {
    RecordingCrmSinkForTest.store.add(batch)
    batch.map(_ => 204)
  }
  def batches: Seq[Seq[CrmOp]] = {
    import scala.jdk.CollectionConverters._
    RecordingCrmSinkForTest.store.asScala.toSeq
  }
}

object RecordingCrmSinkForTest {
  val store = new java.util.concurrent.CopyOnWriteArrayList[Seq[CrmOp]]()
}
