package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.config.IngestConfig
import graft.plans._
import graft.sources._

class OrchestrationSpec extends SparkTestBase {
  import spark.implicits._

  private def writeFile(dir: String, name: String, content: String): String = {
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("survey flatten: one row per question, survey fields carried") {
    val body =
      """[{"id":"S1","patientMrn":"M1","companyName":"TestCo",
          "ReviewDate":"2024-01-05","employeeRating":5,
          "questions":[{"id":"q1","name":"Wait time","rating":4,"Comment":"ok"},
                       {"id":"q2","name":"Staff","rating":5,"Comment":null}],
          "customQuestions":[{"questionType":"NPS","rating":9,"comment":"great"}]},
         {"id":"S2","patientMrn":"M2","companyName":"TestCo",
          "ReviewDate":"2024-01-06","employeeRating":3,
          "questions":[],"customQuestions":[]}]"""
    val flat = SurveyFlatten.fromResponse(spark, body)
    assert(flat.count() == 3) // 2 std + 1 custom; S2 contributes nothing
    val s1 = flat.filter(col("SURVEY_ID") === "S1")
    assert(s1.count() == 3)
    val kinds = flat.groupBy("QUESTION_KIND").count()
      .as[(String, Long)].collect().toMap
    assert(kinds == Map("standard" -> 2L, "custom" -> 1L))
    // merge-upsert on (SURVEY_ID, QUESTION_ID) — W5 over the flattened rows
    val cat = new TableCatalog(spark, tempDir("sv"))
    cat.merge("d.s.surveys", flat, Seq("SURVEY_ID", "QUESTION_ID"))
    cat.merge("d.s.surveys", flat, Seq("SURVEY_ID", "QUESTION_ID")) // idempotent
    assert(cat.count("d.s.surveys") == 3)
  }

  test("api orchestrator: continue-on-failure, patient loop reads prior table") {
    val cat = new TableCatalog(spark, tempDir("api"))
    // practice loop: endpoint 1 loads UpdatedPatients; endpoint 2 fans out per id
    val http = new HttpClient {
      def request(method: String, url: String, headers: Map[String, String],
          body: Option[String]): (Int, String) = url match {
        case "api/updated" => (200, """[{"patient_id":"p1"},{"patient_id":"p2"}]""")
        case "api/enc/p1" => (200, """[{"enc":"e1"}]""")
        case "api/enc/p2" => (200, """[{"enc":"e2"},{"enc":"e3"}]""")
        case "api/broken" => (500, "boom")
        case _ => (404, "nf")
      }
    }
    val policy = RestSource.RetryPolicy(maxRetries = 0, sleeper = _ => ())
    val endpoints = Seq(
      ApiOrchestrator.Endpoint(name = "UpdatedPatients", pattern = "single",
        url = "api/updated", targetTable = "db.raw.UPDATED"),
      ApiOrchestrator.Endpoint(name = "Encounters", pattern = "patientLoop",
        url = "api/enc", patientSourceTable = "db.raw.UPDATED",
        patientIdColumn = "patient_id", targetTable = "db.raw.ENC"),
      ApiOrchestrator.Endpoint(name = "Broken", pattern = "single",
        url = "api/broken", targetTable = "db.raw.BROKEN"))
    val results = ApiOrchestrator.run(spark, cat, http, RunContext(),
      Seq("lamour" -> Map("Authorization" -> "Bearer t")), endpoints, policy)
    assert(results.map(r => r.endpoint -> r.status) == Seq(
      "UpdatedPatients" -> "SUCCESS", "Encounters" -> "SUCCESS", "Broken" -> "FAILED"))
    assert(cat.count("db.raw.UPDATED") == 2)
    val enc = cat.read("db.raw.ENC")
    assert(enc.count() == 3)
    assert(enc.select("_source_patient_id").distinct().as[String].collect().toSet ==
      Set("p1", "p2"))
    assert(enc.columns.contains("_PARENT_RUN_ID"))
    assert(!cat.exists("db.raw.BROKEN"))
  }

  private val gatedConfig =
    """{
      "Practices": [{
        "practice_name": "p",
        "ingest": [{
          "file_type": "F", "source_type": "file",
          "source": {"container": "c", "directory": "d",
                     "file_pattern": ".*\\.csv$", "delimiter": ","},
          "precheck": {"expected_columns": ["id", "name"], "min_row_count": 2,
                       "require_all_columns": true, "allow_extra_columns": false},
          "snowflake": {"database": "R", "schema": "S", "table": "T"}
        }]
      }]
    }"""

  test("precheck gate: failing file moved to error dir, ingest blocked") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val errDir = tempDir("err")
    writeFile(stage, "bad.csv", "id,wrong_col\n1,x\n2,y\n")
    val spec = IngestConfig.parse(gatedConfig).practices.head.ingest.head
    val notifier = new RecordingNotifier
    val results = new Pipeline(spark, cat).run(
      RunContext(notifier = notifier), "p", spec, stage, Some(errDir), None)
    assert(results.map(_._1) == Seq("PRECHECK"))
    assert(results.head._2.status == "FAILED")
    assert(!cat.exists("R.S.T"))
    // file moved with _PRI_ rename
    val moved = new java.io.File(errDir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // hadoop local-fs .crc sidecars
    assert(moved.length == 1 && moved.head.startsWith("bad_PRI_") &&
      moved.head.endsWith(".csv"))
    assert(!Files.exists(Paths.get(stage, "bad.csv")))
    assert(notifier.events.exists(_._1 == "precheck_failed"))
  }

  test("precheck gate: clean file passes, ingested and archived") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val arcDir = tempDir("arc")
    writeFile(stage, "good.csv", "id,name\n1,a\n2,b\n")
    val spec = IngestConfig.parse(gatedConfig).practices.head.ingest.head
    val results = new Pipeline(spark, cat).run(
      RunContext(), "p", spec, stage, None, Some(arcDir))
    assert(results.map(_._1) == Seq("PRECHECK", "RAW"))
    assert(results.forall(_._2.status == "SUCCESS"))
    assert(cat.count("R.S.T") == 2)
    assert(new java.io.File(arcDir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSeq == Seq("good.csv"))
    assert(!Files.exists(Paths.get(stage, "good.csv")))
  }

  test("precheck logs every file's checks in one log commit") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val errDir = tempDir("err")
    writeFile(stage, "a.csv", "id,name\n1,a\n2,b\n")
    writeFile(stage, "b.csv", "id,name\n3,c\n4,d\n")
    writeFile(stage, "bad.csv", "id\n5\n6\n") // required `name` missing
    val spec = IngestConfig.parse(gatedConfig).practices.head.ingest.head
    val logTable = "LOGDB.S.PRECHECK_INGEST_LOG"
    val log = new IngestLog(spark, cat, logTable)
    log.log(RunContext(), "p", "F", "SEED", "SUCCESS") // the table exists
    val v0 = cat.version(logTable).get
    // at the error move the log rows must already be readable
    var atMove = -1L
    val notifier = new Notifier {
      def notify(event: String, payload: Map[String, String]): Unit =
        if (event == "precheck_failed") {
          assert(new java.io.File(errDir).list().exists(_.startsWith("bad_PRI_")))
          atMove = cat.count(logTable)
        }
    }
    val ctx = RunContext(notifier = notifier)
    val (ok, checks) = new PrecheckStage(spark, Some(log)).run(ctx, "p", spec,
      stage, Some(errDir))
    assert(!ok)
    assert(cat.version(logTable).contains(v0 + 1))
    val before = cat.dataFilePathsAt(logTable, v0).toSet
    val after = cat.dataFilePathsAt(logTable, v0 + 1).toSet
    assert(before.subsetOf(after) && (after -- before).size == 1)
    val rows = cat.read(logTable).filter(col("PARENT_RUN_ID") === ctx.parentRunId)
      .select("LOG_ID", "STEP_NAME", "STATUS", "ROW_COUNT", "ERROR_MESSAGE", "LOG_TIME")
      .as[(String, String, String, Long, String, java.sql.Timestamp)].collect().toSeq
    val all = checks.values.flatten.toSeq
    assert(all.size == 9 + 9 + 8)
    assert(rows.size == all.size)
    assert(atMove == 1 + all.size)
    assert(rows.map(r => (r._2, r._3)).sorted ==
      all.map(c => (s"PRECHECK:${c.checkName}", c.status)).sorted)
    assert(rows.map(_._1).distinct.size == rows.size)
    assert(rows.map(_._6).distinct.size == 1)
    assert(rows.forall(_._4 == -1L))
    assert(rows.filter(_._3 == "FAIL").map(r => (r._2, r._5)) ==
      Seq("PRECHECK:columns_required" -> "missing: name"))
  }

  test("logAll with no entries commits nothing") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val log = new IngestLog(spark, cat, "LOGDB.S.EMPTY_LOG")
    log.logAll(RunContext(), "p", "F", Nil)
    assert(!cat.exists("LOGDB.S.EMPTY_LOG"))
    log.log(RunContext(), "p", "F", "RAW_LOAD", "SUCCESS", 1)
    val v = cat.version("LOGDB.S.EMPTY_LOG")
    log.logAll(RunContext(), "p", "F", Nil)
    assert(cat.version("LOGDB.S.EMPTY_LOG") == v)
  }

  test("precheck accepts file names with a space or a percent sign") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val errDir = tempDir("err")
    writeFile(stage, "with space.csv", "id,name\n1,a\n2,b\n3,c\n")
    writeFile(stage, "pct%41.csv", "id,name\n4,d\n5,e\n")
    val spec = IngestConfig.parse(gatedConfig).practices.head.ingest.head
    val (ok, checks) = new PrecheckStage(spark).run(RunContext(), "p", spec,
      stage, Some(errDir))
    assert(ok, checks)
    assert(checks.map { case (f, cs) =>
      f -> cs.find(_.checkName == "row_count").map(_.actual) } ==
      Map("with space.csv" -> Some("3"), "pct%41.csv" -> Some("2")))
    val results = new Pipeline(spark, cat).run(RunContext(), "p", spec, stage,
      Some(errDir), None)
    assert(results.map(_._1) == Seq("PRECHECK", "RAW"))
    assert(results.forall(_._2.status == "SUCCESS"), results)
    assert(results(1)._2.rowCount == 5)
    assert(cat.count("R.S.T") == 5)
    assert(new java.io.File(errDir).list().isEmpty)
  }

  test("precheck rejects an empty file, which has no line count") {
    val stage = tempDir("stage")
    val errDir = tempDir("err")
    writeFile(stage, "empty.csv", "")
    writeFile(stage, "good.csv", "id,name\n1,a\n2,b\n")
    val spec = IngestConfig.parse(gatedConfig).practices.head.ingest.head
    val (ok, checks) = new PrecheckStage(spark).run(RunContext(), "p", spec,
      stage, Some(errDir))
    assert(!ok)
    assert(checks("empty.csv").map(c => (c.checkName, c.status)) ==
      Seq("file_size" -> "FAIL"))
    assert(!checks("good.csv").exists(_.failed))
    assert(new java.io.File(errDir).list().filterNot(_.startsWith("."))
      .exists(_.startsWith("empty_PRI_")))
  }

  test("parallel archive mover relocates a many-file drop") {
    val stage = tempDir("stage")
    val arcDir = tempDir("arc")
    val files = (0 until 25).map { i =>
      val name = f"drop_$i%02d.csv"
      writeFile(stage, name, s"id\n$i\n")
      s"$stage/$name"
    }
    val moved = graft.sources.ArchiveMover.moveAllToArchive(
      spark, files, arcDir, batchCount = 10)
    assert(moved.length == 25)
    val landed = new java.io.File(arcDir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(landed == (0 until 25).map(i => f"drop_$i%02d.csv").toSet)
    assert(new java.io.File(stage).listFiles()
      .filterNot(_.getName.startsWith(".")).isEmpty)
  }

  test("crm probe: paged existing fetch drives PATCH-by-guid vs POST") {
    // two-page nextLink chain, reference's $select/paging shape
    val fetcher = new CrmFetcher {
      def fetchPage(entity: String, select: Seq[String], link: Option[String])
          : (Seq[Map[String, String]], Option[String]) = link match {
        case None =>
          (Seq(Map("appt_key" -> "K1", "crmid" -> "guid-1")), Some("page2"))
        case Some("page2") =>
          (Seq(Map("appt_key" -> "K2", "crmid" -> "guid-2")), None)
        case other => fail(s"unexpected link $other")
      }
    }
    val existing = CrmFetch.fetchExisting(spark, fetcher, "appointments",
      Seq("appt_key", "crmid"))
    assert(existing.count() == 2)

    val payload = Seq(("K1", "rowA"), ("K3", "rowB"), ("K2", "rowC"))
      .toDF("appt_key", "field1")
    val sink = new RecordingCrmSinkForTest
    val (ok, bad) = CrmBatch.deliverWithProbe(payload, "appointments",
      "appt_key", existing, "crmid", batchSize = 10, sink)
    assert(ok == 3 && bad == 0)
    val ops = sink.batches.flatten
    val byKey = ops.map(o => o.fields("appt_key") -> o).toMap
    assert(byKey("K1").method == "PATCH" && byKey("K1").key.contains("guid-1"))
    assert(byKey("K2").method == "PATCH" && byKey("K2").key.contains("guid-2"))
    assert(byKey("K3").method == "POST" && byKey("K3").key.isEmpty)
    // payload fields ride along unchanged; the probe id never leaks in
    assert(ops.forall(o => o.fields.keySet == Set("appt_key", "field1")))
  }

  test("query-source ingest branch materializes SQL over views") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    Seq((1, "e1"), (1, "e1"), (2, "e2")).toDF("pid", "encounterid")
      .createOrReplaceTempView("stg_appts")
    val cfg =
      """{"Practices": [{"practice_name": "bisbee", "ingest": [{
           "file_type": "Q", "source_type": "query",
           "source": {"query": "SELECT DISTINCT pid, encounterid FROM stg_appts"},
           "snowflake": {"database": "R", "schema": "S", "table": "QT"}
         }]}]}"""
    val spec = IngestConfig.parse(cfg).practices.head.ingest.head
    val r = new RawStage(spark, cat).runQuery(RunContext(), "bisbee", spec)
    assert(r.status == "SUCCESS" && r.rowCount == 2)
    val out = cat.read("R.S.QT")
    assert(out.select("file_name").distinct().as[String].head() == "query_source")
  }

  test("headerless pipe-delimited gz file reads with fixed schema (humana shape)") {
    val stage = tempDir("gz")
    // synthetic Pharmacy_Claims-shaped data: headerless, pipe, gzipped
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$stage/claims_202401.txt.gz"))
    gz.write("M001|C1|12.5\nM002|C2|30.0\n".getBytes("UTF-8"))
    gz.close()
    val spec = graft.config.SourceSpec(
      container = None, directory = None, filePattern = Some(".*\\.txt(\\.gz)?$"),
      delimiter = "|", header = false,
      columns = Seq("SRC_MBR_ID", "CLAIM_NBR", "NET_PAID_AMT"),
      query = None, api = Map.empty)
    val files = CsvStageReader.listFiles(spark, stage, spec.filePattern)
    assert(files.map(_.name) == Seq("claims_202401.txt.gz"))
    val df = CsvStageReader.read(spark, files.map(_.path), spec)
    assert(df.columns.toSeq == Seq("SRC_MBR_ID", "CLAIM_NBR", "NET_PAID_AMT"))
    assert(df.count() == 2) // no header row consumed
    assert(df.filter(col("SRC_MBR_ID") === "M001").count() == 1)
  }

  test("ingest log records stage rows") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val log = new IngestLog(spark, cat, "LOGDB.S.RAW_INGEST_LOG")
    val ctx = RunContext()
    log.log(ctx, "p", "F", "RAW_LOAD", "SUCCESS", 42)
    log.log(ctx, "p", "F", "REFINED_LOAD", "SUCCESS", 40)
    val rows = cat.read("LOGDB.S.RAW_INGEST_LOG")
    assert(rows.count() == 2)
    assert(rows.filter(col("PARENT_RUN_ID") === ctx.parentRunId).count() == 2)
    assert(rows.select("STEP_NAME").as[String].collect().toSet ==
      Set("RAW_LOAD", "REFINED_LOAD"))
  }
}
