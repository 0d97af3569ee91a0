package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
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

  test("accepted pipeline run commits its whole ingest log in one commit") {
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
    // PRECHECK (both files' checks), RAW, REFINED and CURATED: one commit
    assert(cat.version(logTable).contains(v0 + 1))
    val rows = cat.read(logTable).filter(col("PARENT_RUN_ID") === ctx.parentRunId)
      .select("LOG_ID", "STEP_NAME", "LOG_TIME")
      .as[(String, String, java.sql.Timestamp)].collect().toSeq
    val steps = rows.map(_._2)
    assert(steps.count(_.startsWith("PRECHECK:")) == 2 * 9)
    assert(steps.filterNot(_.startsWith("PRECHECK:")).sorted ==
      Seq("CURATED_LOAD", "RAW_LOAD", "REFINED_LOAD"))
    assert(rows.map(_._1).distinct.size == rows.size)
    // each row keeps the time its step logged, not the flush time: one
    // LOG_TIME per stage, a distinct one for each of the four
    val times = rows.groupBy(r => r._2.takeWhile(_ != ':'))
      .map { case (stage, rs) => stage -> rs.map(_._3).distinct }
    assert(times.values.forall(_.size == 1), times)
    assert(times.values.flatten.toSet.size == 4, times)
  }

  test("a run whose CURATED stage throws still commits its earlier log rows once") {
    import spark.implicits._
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    writeFile(stage, "a.csv",
      "appt_id,Appt Provider,Appt Location,Appt Status\n{A},P,L,Scheduled\n")
    val spec = IngestConfig.parse(configJson).practices.head.ingest.head
    // no lookup table: CURATED's classification cannot read it
    val logTable = "LOGDB.S.INGEST_LOG"
    val log = new IngestLog(spark, cat, logTable)
    val ctx = RunContext()
    val e = intercept[IllegalArgumentException](
      new Pipeline(spark, cat, Some(log)).run(ctx, "p", spec, stage))
    assert(e.getMessage.contains("LK.S.PATIENTS"))
    assert(cat.version(logTable).contains(0))
    val steps = cat.read(logTable).filter(col("PARENT_RUN_ID") === ctx.parentRunId)
      .select("STEP_NAME").as[String].collect().toSeq
    assert(steps.count(_.startsWith("PRECHECK:")) == 9)
    assert(steps.filterNot(_.startsWith("PRECHECK:")).sorted ==
      Seq("RAW_LOAD", "REFINED_LOAD"))
    assert(cat.count("REFDB.S.APPT") == 1)
  }

  test("a rejected pipeline run commits its log rows once, before the first error move") {
    import spark.implicits._
    val cat = new TableCatalog(spark, tempDir("wh"))
    val stage = tempDir("stage")
    val errDir = tempDir("err")
    writeFile(stage, "a.csv",
      "appt_id,Appt Provider,Appt Location,Appt Status\n{A},P,L,Scheduled\n")
    writeFile(stage, "b.csv", "appt_id,Appt Provider\n{B},P\n") // columns missing
    val spec = IngestConfig.parse(configJson).practices.head.ingest.head
    val logTable = "LOGDB.S.INGEST_LOG"
    val log = new IngestLog(spark, cat, logTable)
    log.log(RunContext(), "p", "F", "SEED", "SUCCESS") // the table exists
    val v0 = cat.version(logTable).get
    var atMove = -1L
    val notifier = new Notifier {
      def notify(event: String, payload: Map[String, String]): Unit =
        if (event == "precheck_failed" && atMove < 0) {
          assert(new java.io.File(errDir).list().exists(_.startsWith("b_PRI_")))
          atMove = cat.count(logTable)
        }
    }
    val ctx = RunContext(notifier = notifier)
    val results = new Pipeline(spark, cat, Some(log)).run(ctx, "p", spec, stage,
      Some(errDir))
    assert(results.map(r => r._1 -> r._2.status) == Seq("PRECHECK" -> "FAILED"))
    assert(cat.version(logTable).contains(v0 + 1))
    val steps = cat.read(logTable).filter(col("PARENT_RUN_ID") === ctx.parentRunId)
      .select("STEP_NAME").as[String].collect().toSeq
    assert(steps.size >= 2 * 8 && steps.forall(_.startsWith("PRECHECK:")), steps)
    assert(atMove == 1 + steps.size)
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
    // curated stage pins its snapshot, a row from ANOTHER refined run
    // lands in the table
    val racing = racingCatalog(root, refinedT, _
      .withColumn("IS_VALID", lit(1))
      .withColumn("REFINED_PARENT_RUN_ID", lit("runLate"))
      .withColumn("APPT_ID", lit("RACE_LATE")))
    val v0 = cat.version(refinedT).get
    val r = new CuratedStage(spark, racing).run(RunContext(), "p", spec)
    assert(r.status == "SUCCESS")
    assert(r.rowCount == 1)
    assert(cat.read("CURDB.S.APPT").filter(col("APPT_ID") === "RACE_LATE").isEmpty)
    // the late append, then the clear, rebased onto it
    assert(cat.version(refinedT).contains(v0 + 2))
    // the mid-stage row survives the clear (blanket IS_VALID=1 would
    // have zeroed it — the reference's race)
    val still = cat.read(refinedT).filter(col("IS_VALID") === 1)
    assert(still.select("REFINED_PARENT_RUN_ID").as[String].collect().toSeq
      == Seq("runLate"))
    // and the next pass consumes it normally
    new CuratedStage(spark, racing).run(RunContext(), "p", spec)
    assert(cat.read(refinedT).filter(col("IS_VALID") === 1).count() == 0)
  }

  /** A catalog over `root` that appends one more row to `table` (a row
    * of it, changed by `late`) the first time a stage pins `table`'s
    * snapshot: a concurrent writer landing between the pin and the
    * clear. */
  private def racingCatalog(root: String, table: String,
      late: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : TableCatalog = new TableCatalog(spark, root) {
    private var injected = false
    override def snapshot(fq: String): graft.catalog.Snapshot = {
      val pinned = super.snapshot(fq)
      if (fq == table && !injected) {
        injected = true
        super.append(fq, late(readVersion(fq, pinned.version).limit(1)))
      }
      pinned
    }
  }

  test("refined flag clear is scoped to the pinned snapshot (read-clear race)") {
    val root = tempDir("wh")
    val cat = new TableCatalog(spark, root)
    val stage = tempDir("stage")
    writeFile(stage, "a.csv",
      "appt_id,Appt Provider,Appt Location,Appt Status\n{X},\"P, Q\",L,Scheduled\n")
    val spec = IngestConfig.parse(configJson).practices.head.ingest.head
    import spark.implicits._
    cat.append("LK.S.PATIENTS", Seq("zz").toDF("KNOWN_ID"))
    new Pipeline(spark, cat).run(RunContext(), "p", spec, stage)
    val rawT = "RAWDB.S.APPT"
    val refinedT = "REFDB.S.APPT"
    assert(cat.read(rawT).filter(col("IS_NEW") === 1).isEmpty)

    // flag a fresh RAW batch for run A
    cat.append(rawT, cat.read(rawT).limit(1)
      .withColumn("IS_NEW", lit(1))
      .withColumn("PARENT_RUN_ID", lit("runA"))
      .withColumn("appt_id", lit("{RACE_A}")))
    val v0 = cat.version(rawT).get
    // a RAW append from another run lands right after the pin
    val racing = racingCatalog(root, rawT, _
      .withColumn("IS_NEW", lit(1))
      .withColumn("PARENT_RUN_ID", lit("runLate"))
      .withColumn("appt_id", lit("{RACE_LATE}")))
    val r = new RefinedStage(spark, racing).run(RunContext(), "p", spec)
    assert(r.status == "SUCCESS")
    assert(r.rowCount == 1)
    val refinedIds = cat.read(refinedT).select("APPT_ID").as[String].collect().toSet
    assert(refinedIds("RACE_A") && !refinedIds("RACE_LATE"))
    // the late row keeps IS_NEW=1: the clear rewrote only the pinned
    // snapshot's flagged file, and committed by rebase after the append
    assert(cat.read(rawT).filter(col("IS_NEW") === 1)
      .select("PARENT_RUN_ID").as[String].collect().toSeq == Seq("runLate"))
    assert(cat.version(rawT).contains(v0 + 2))
    // and the next pass consumes it normally
    assert(new RefinedStage(spark, racing).run(RunContext(), "p", spec).rowCount == 1)
    assert(cat.read(rawT).filter(col("IS_NEW") === 1).isEmpty)
    assert(cat.read(refinedT).filter(col("APPT_ID") === "RACE_LATE").count() == 1)
  }

  test("a failed downstream append leaves both tables and no staging behind") {
    val root = tempDir("wh")
    val cat = new TableCatalog(spark, root)
    val spec = IngestConfig.parse(configJson).practices.head.ingest.head
    import spark.implicits._
    cat.append("LK.S.PATIENTS", Seq("zz").toDF("KNOWN_ID"))
    def stageFile(id: String): String = {
      val stage = tempDir("stage")
      writeFile(stage, "a.csv",
        s"appt_id,Appt Provider,Appt Location,Appt Status\n{$id},P,L,Scheduled\n")
      stage
    }
    new Pipeline(spark, cat).run(RunContext(), "p", spec, stageFile("OK"))
    val rawT = "RAWDB.S.APPT"
    val refinedT = "REFDB.S.APPT"
    cat.alterAddCheck(refinedT, "no_bad", "APPT_ID <> 'BAD'")
    assert(new RawStage(spark, cat).run(RunContext(), "p", spec, stageFile("BAD"))
      .status == "SUCCESS")
    val before = Seq(rawT, refinedT).map(t => t -> cat.version(t).get)
    // the append violates the target's CHECK while the clear is staged
    intercept[Exception](new RefinedStage(spark, cat).run(RunContext(), "p", spec))
    assert(Seq(rawT, refinedT).map(t => t -> cat.version(t).get) == before)
    assert(cat.read(rawT).filter(col("IS_NEW") === 1)
      .select("APPT_ID").as[String].collect().toSeq == Seq("{BAD}"))
    assert(cat.read(refinedT).select("APPT_ID").as[String].collect().toSeq == Seq("OK"))
    val staging = new java.io.File(root, "_staging")
    assert(Option(staging.list()).forall(_.isEmpty), Option(staging.list()).map(_.toSeq))
  }

  /** A customer drop of the oracle practice (`QueriesPipeline`): `n`
    * rows from key `from`, staged as its own CSV file. */
  private def oracleDrop(stage: String, from: Int, n: Int): Unit = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
    writeFile(stage, s"drop_$from.csv", (from until from + n).map(k =>
      s"#$k,Customer#$k,${segs(k % segs.size)}").mkString(
      "cust id,Cust Name,Segment\n", "\n", "\n"))
  }

  private lazy val oracleSpec =
    IngestConfig.parse(QueriesPipeline.configJson).practices.head.ingest.head

  /** Spark jobs by job group, and the groups of the shuffle stages, of
    * what `body` runs (listener attached after `warm`). */
  private def jobsOf(body: => Unit): (Map[String, Int], Seq[String]) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val shuffleStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    def group(p: java.util.Properties) =
      Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("none")
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.merge(group(e.properties), 1, (a, b) => a + b)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageGroup.put(e.stageInfo.stageId, group(e.properties))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") shuffleStages.add(e.stageId)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Thread.sleep(500)
      jobs.clear(); stageGroup.clear(); shuffleStages.clear(); ended.set(0)
      body
      val deadline = System.currentTimeMillis() + 10000
      while (ended.get < jobs.values.asScala.map(_.intValue).sum &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.asScala.view.mapValues(_.intValue).toMap,
      shuffleStages.asScala.toSeq.map(stageGroup.get))
  }

  test("one accepted drop stays inside its Spark-job budget, with no shuffle stage") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val log = new IngestLog(spark, cat, "LOG.S.INGEST_LOG")
    import spark.implicits._
    cat.append("LK.S.KNOWN", (1 until 600 by 3).map(_.toString).toDF("KNOWN_ID"))
    // one drop through the four stages, each under its own job group and
    // each committing its own log rows
    def drop(i: Int): Unit = {
      val stage = tempDir("stage")
      oracleDrop(stage, i * 200, 200)
      val ctx = RunContext()
      def in[T](g: String)(body: => T): T = {
        spark.sparkContext.setJobGroup(g, g)
        try body finally spark.sparkContext.clearJobGroup()
      }
      assert(in("PRECHECK")(new PrecheckStage(spark, Some(log))
        .run(ctx, "p", oracleSpec, stage, None))._1)
      assert(in("RAW")(new RawStage(spark, cat, Some(log))
        .run(ctx, "p", oracleSpec, stage)).status == "SUCCESS")
      assert(in("REFINED")(new RefinedStage(spark, cat, Some(log))
        .run(ctx, "p", oracleSpec)).rowCount == 200)
      assert(in("CURATED")(new CuratedStage(spark, cat, Some(log))
        .run(ctx, "p", oracleSpec)).status == "SUCCESS")
    }
    drop(0); drop(1) // tables exist: the third drop is a steady-state one
    val (jobs, shuffles) = jobsOf(drop(2))
    // PRECHECK: line counts + log; RAW: append + log (the header is read
    // on the driver); REFINED: append + the flag clear's data and change
    // writes (staged beside it) + log; CURATED: the append's lookup
    // (broadcast, write) + the flag clear's two writes + log
    assert(jobs == Map("PRECHECK" -> 2, "RAW" -> 2, "REFINED" -> 4, "CURATED" -> 5))
    assert(shuffles.isEmpty, s"shuffle stages by group: $shuffles")
  }

  test("one accepted Pipeline.run drop is 10 Spark jobs and 6 commits") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val logTable = "LOG.S.INGEST_LOG"
    val log = new IngestLog(spark, cat, logTable)
    import spark.implicits._
    cat.append("LK.S.KNOWN", (1 until 600 by 3).map(_.toString).toDF("KNOWN_ID"))
    val tables = Seq("R.S.CUST", "RF.S.CUST", "CU.S.CUST", logTable)
    def drop(i: Int): Seq[(String, StageResult)] = {
      val stage = tempDir("stage")
      oracleDrop(stage, i * 200, 200)
      new Pipeline(spark, cat, Some(log)).run(RunContext(), "p", oracleSpec, stage)
    }
    drop(0); drop(1)
    val before = tables.map(t => cat.version(t).get)
    var r: Seq[(String, StageResult)] = Nil
    val (jobs, shuffles) = jobsOf { r = drop(2) }
    assert(r.map(_._1) == Seq("PRECHECK", "RAW", "REFINED", "CURATED"))
    assert(r.forall(_._2.status == "SUCCESS"), r)
    // PRECHECK 1, RAW 1, REFINED 3, CURATED 4, the run's log commit 1
    assert(jobs == Map("none" -> 10))
    assert(shuffles.isEmpty, s"shuffle stages: $shuffles")
    // RAW append and flag clear, REFINED append and flag clear, CURATED
    // append, one log commit
    val commits = tables.zip(before).map { case (t, v) => t -> (cat.version(t).get - v) }
    assert(commits == Seq("R.S.CUST" -> 2, "RF.S.CUST" -> 2, "CU.S.CUST" -> 1,
      logTable -> 1))
  }

  test("five drops leave no zero-row data file in RAW, REFINED or CURATED") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    import spark.implicits._
    cat.append("LK.S.KNOWN", (1 until 600 by 3).map(_.toString).toDF("KNOWN_ID"))
    (0 until 5).foreach { i =>
      val stage = tempDir("stage")
      oracleDrop(stage, i * 100, 100)
      val r = new Pipeline(spark, cat).run(RunContext(), "p", oracleSpec, stage)
      assert(r.forall(_._2.status == "SUCCESS"), r)
    }
    Seq("R.S.CUST", "RF.S.CUST", "CU.S.CUST").foreach { t =>
      val files = cat.dataFilePaths(t)
      val empty = files.filter(f => spark.read.parquet(f).count() == 0L)
      assert(empty.isEmpty, s"$t holds zero-row files $empty")
    }
    assert(cat.count("CU.S.CUST") == 400L) // FURNITURE (k % 5 == 2) filtered
  }

  test("the ingest log keeps its column names, types and nullability") {
    val cat = new TableCatalog(spark, tempDir("wh"))
    val t = "LOG.S.INGEST_LOG"
    new IngestLog(spark, cat, t).logAll(RunContext(), "p", "F",
      Seq(LogEntry("A", "SUCCESS", 3), LogEntry("B", "FAILED", -1, "boom")))
    import spark.implicits._
    // the schema the log had when its rows were tuples
    val tupled = Seq(("", "", "", "", "", "", 0L, "", new java.sql.Timestamp(0L)))
      .toDF("LOG_ID", "PARENT_RUN_ID", "PRACTICE_NAME", "FILE_TYPE",
        "STEP_NAME", "STATUS", "ROW_COUNT", "ERROR_MESSAGE", "LOG_TIME").schema
    assert(IngestLog.Schema == tupled)
    val footer = graft.connector.GraftParquetIO.fileSchema(
      cat.dataFilePaths(t).head, spark.sparkContext.hadoopConfiguration)
    assert(footer.getFields.asScala.filter(f =>
      f.getRepetition == org.apache.parquet.schema.Type.Repetition.REQUIRED)
      .map(_.getName).toSeq == Seq("ROW_COUNT"))
    assert(cat.read(t).columns.toSeq == tupled.fieldNames.toSeq)
    assert(cat.read(t).select("STEP_NAME", "ROW_COUNT", "ERROR_MESSAGE")
      .as[(String, Long, String)].collect().sorted.toSeq ==
      Seq(("A", 3L, ""), ("B", -1L, "boom")))
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
