package graft.plans

import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog
import graft.config._
import graft.operators.{CuratedOps, RefinedOps}
import graft.sources.CsvStageReader

/** Run identity threaded through every stage for end-to-end lineage.
  * reference: PARENT_RUN_ID propagation,
  * SF_Notebooks/RAW_ADLS_TO_RAW_SNOWFLAKE.py:222-230. */
final case class RunContext(
    parentRunId: String = UUID.randomUUID().toString,
    notifier: Notifier = NoopNotifier) {
  def newLogId(): String = UUID.randomUUID().toString
}

/** One IngestLog row: a step's outcome, row count and error text. */
final case class LogEntry(step: String, status: String, rowCount: Long = -1,
    error: String = "")

/** Append-only run/step logging to a catalog log table (W7).
  * reference: RAW_ADLS_TO_RAW_SNOWFLAKE.py:316-382 (+3 variants).
  * Every write is one versioned catalog commit, so callers with many
  * rows (the precheck battery) hand them all to [[logAll]] at once. */
final class IngestLog(spark: SparkSession, catalog: TableCatalog, logTable: String) {
  def log(ctx: RunContext, practice: String, fileType: String, step: String,
      status: String, rowCount: Long = -1, error: String = ""): Unit =
    logAll(ctx, practice, fileType, Seq(LogEntry(step, status, rowCount, error)))

  /** All `entries` in ONE commit of one data file (coalesce(1): a local
    * frame otherwise splits into one file per core); each row gets its
    * own LOG_ID, all share one LOG_TIME. No entries, no commit. */
  def logAll(ctx: RunContext, practice: String, fileType: String,
      entries: Seq[LogEntry]): Unit = if (entries.nonEmpty) {
    import spark.implicits._
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val rows = entries.map(e => (ctx.newLogId(), ctx.parentRunId, practice,
      fileType, e.step, e.status, e.rowCount, e.error, now))
      .toDF("LOG_ID", "PARENT_RUN_ID", "PRACTICE_NAME", "FILE_TYPE",
        "STEP_NAME", "STATUS", "ROW_COUNT", "ERROR_MESSAGE", "LOG_TIME")
    catalog.append(logTable, rows.coalesce(1))
  }
}

final case class StageResult(status: String, rowCount: Long, details: String = "")

/** RAW stage: stage files → single multi-file CSV scan → metadata
  * columns → append to the RAW table.
  *
  * Unlike the reference's per-file loop
  * (RAW_ADLS_TO_RAW_SNOWFLAKE.py:1180-1244) all matched files load in
  * ONE scan; per-file lineage comes from input_file_name(). IS_NEW is
  * only attached when a refined stage is configured (:1224-1231).
  */
final class RawStage(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec,
      stageDir: String): StageResult = {
    val rawTable = spec.target.rawTable.getOrElse(
      throw new IllegalArgumentException("no raw table configured"))
    val files = CsvStageReader.listFiles(spark, stageDir, spec.source.filePattern)
    if (files.isEmpty)
      return StageResult("NO_FILES", 0, s"no files matching in $stageDir")

    val df = CsvStageReader.read(spark, files.map(_.path), spec.source)
    val withMeta = RefinedOps.withRawMetadata(
      CsvStageReader.withFileName(df).drop("file_name_raw"),
      ctx.parentRunId,
      markNew = spec.target.refinedTable.isDefined,
      fileName = element_at(split(input_file_name(), "/"), -1))

    // write-side observed metric replaces the read-back verification
    // count: same number, zero extra jobs (the write action reports it)
    val obs = org.apache.spark.sql.Observation()
    if (spec.target.loadMode == "overwrite")
      catalog.overwrite(rawTable, withMeta.observe(obs, count(lit(1)).as("n")))
    else catalog.append(rawTable, withMeta.observe(obs, count(lit(1)).as("n")))
    val n = obs.get("n").asInstanceOf[Long]
    log.foreach(_.log(ctx, practice, spec.fileType, "RAW_LOAD", "SUCCESS", n))
    StageResult("SUCCESS", n, s"${files.length} files")
  }

  /** Query-source ingest branch (S5): materialize a SQL query over
    * registered views; skip when empty.
    * reference: RAW_ADLS_TO_RAW_SNOWFLAKE.py:979-1112. */
  def runQuery(ctx: RunContext, practice: String, spec: IngestSpec): StageResult = {
    val rawTable = spec.target.rawTable.getOrElse(
      throw new IllegalArgumentException("no raw table configured"))
    val q = spec.source.query.getOrElse(
      throw new IllegalArgumentException("no query configured"))
    val df = spark.sql(q)
    if (df.isEmpty) {
      log.foreach(_.log(ctx, practice, spec.fileType, "RAW_QUERY", "SKIPPED", 0))
      return StageResult("SKIPPED", 0, "query returned no rows")
    }
    val withMeta = RefinedOps.withRawMetadata(df, ctx.parentRunId,
      markNew = spec.target.refinedTable.isDefined, fileName = lit("query_source"))
    val obs = org.apache.spark.sql.Observation()
    if (spec.target.loadMode == "overwrite")
      catalog.overwrite(rawTable, withMeta.observe(obs, count(lit(1)).as("n")))
    else catalog.append(rawTable, withMeta.observe(obs, count(lit(1)).as("n")))
    val n = obs.get("n").asInstanceOf[Long]
    log.foreach(_.log(ctx, practice, spec.fileType, "RAW_QUERY", "SUCCESS", n))
    StageResult("SUCCESS", n)
  }
}

/** REFINED stage: consume RAW rows WHERE IS_NEW=1, apply the transform
  * chain, append to REFINED, then clear IS_NEW — but ONLY for the batch
  * actually read (keyed by PARENT_RUN_ID), fixing the reference's
  * read-then-clear race where rows ingested between the read and the
  * UPDATE were silently skipped
  * (RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:379 vs :717).
  */
final class RefinedStage(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec): StageResult = {
    val rawTable = spec.target.rawTable.get
    val refinedTable = spec.target.refinedTable.getOrElse(
      throw new IllegalArgumentException("no refined table configured"))
    val raw = catalog.read(rawTable)
    val batch = raw.filter(col("IS_NEW") === 1)
    // one job yields both the consumed run ids and the batch row count
    // (the refined transform chain is 1:1 — regex/split/strip/project
    // never add or drop rows — so n(out) == n(batch))
    val runStats = batch.groupBy("PARENT_RUN_ID").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val runIds = runStats.map(_._1).toSeq // bounded: one id per pipeline run
    if (runIds.isEmpty) {
      log.foreach(_.log(ctx, practice, spec.fileType, "REFINED_LOAD", "SKIPPED", 0))
      return StageResult("SKIPPED", 0, "no IS_NEW rows")
    }
    val transformed = RefinedOps.refinedTransform(batch, spec.target)
    val out = RefinedOps.withRefinedMetadata(transformed, ctx.parentRunId)
    catalog.append(refinedTable, out)
    val n = runStats.map(_._2).sum
    // clear only the runs we consumed
    catalog.updateWhere(rawTable, Map("IS_NEW" -> lit(0)),
      col("IS_NEW") === 1 && col("PARENT_RUN_ID").isin(runIds: _*))
    log.foreach(_.log(ctx, practice, spec.fileType, "REFINED_LOAD", "SUCCESS", n))
    StageResult("SUCCESS", n)
  }
}

/** Streaming-native REFINED stage (opt-in alternative to the
  * flag-machine [[RefinedStage]]): a checkpointed file-source stream
  * over the RAW catalog table's append-only version dirs, so each RAW
  * file is consumed exactly once with ZERO table rewrites — at 100 TB
  * the IS_NEW clear (a copy-on-write rewrite per run) disappears
  * entirely; the stream checkpoint tracks progress instead. Requires
  * the RAW table to stay append-only (which this mode guarantees, as
  * it never clears flags). Output accumulates in `refinedDir` as an
  * append-only refined store. */
final class StreamingRefinedStage(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec,
      refinedDir: String, checkpointDir: String): StageResult = {
    val rawTable = spec.target.rawTable.getOrElse(
      throw new IllegalArgumentException("no raw table configured"))
    val schema = catalog.read(rawTable).schema
    graft.streaming.IncrementalRefined.drainOnce(spark,
      catalog.versionGlob(rawTable), refinedDir, checkpointDir,
      spec.target, schema, ctx.parentRunId)
    val n = spark.read.parquet(refinedDir)
      .filter(col("REFINED_PARENT_RUN_ID") === ctx.parentRunId).count()
    log.foreach(_.log(ctx, practice, spec.fileType, "REFINED_STREAM", "SUCCESS", n))
    StageResult("SUCCESS", n)
  }
}

/** CURATED stage: mapping projection + metadata columns + lookup
  * classification + source filters + optional future-only filter →
  * INSERT INTO curated; RECORD_TYPE distribution; CRM sync through the
  * sink trait; clear IS_VALID for consumed rows.
  * reference: REFINED_SNOWFLAKE_TO_CURATED_SNOWFLAKE.py:1309-1801.
  */
final class CuratedStage(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None, crmSink: CrmSink = DryRunCrmSink) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec,
      now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis()))
      : StageResult = {
    val refinedTable = spec.target.refinedTable.get
    val curatedTable = spec.target.curatedTable.getOrElse(
      throw new IllegalArgumentException("no curated table configured"))
    val refined = catalog.read(refinedTable)

    // the batch = all flagged rows AT READ TIME, keyed by the refined
    // run ids actually consumed (bounded: one id per upstream run).
    // Rows appended between this read and the flag clear belong to
    // other run ids and must survive — the same read-then-clear race
    // the REFINED stage fixes (reference:
    // RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:379 vs :717).
    val flagged = refined.filter(col("IS_VALID") === 1)
    val consumedRunIds = flagged.select("REFINED_PARENT_RUN_ID").distinct()
      .collect().map(_.getString(0)).toSeq

    // source rows: IS_VALID=1 AND config filters
    val valid = flagged
      .filter(CuratedOps.compileFilter(refined, spec.target.sourceFilter))

    // cache: the reference recomputes this SELECT 3-4× (insert,
    // distribution, sync fetch) — one cache is a pure win (SURVEY §4)
    valid.cache()
    try {
      val classified = spec.target.curatedLookup match {
        case Some(lk) => CuratedOps.lookupClassify(valid, catalog.read(lk.lookupTable), lk)
        case None => valid.withColumn("RECORD_TYPE", lit("NEW"))
      }

      // mapped projection keeps RECORD_TYPE from classification
      val mapped =
        if (spec.target.curatedMapping.isEmpty) classified
        else CuratedOps.mappingProjection(classified,
          spec.target.curatedMapping :+ MappingSpec("RECORD_TYPE", "RECORD_TYPE", None, " ", None))

      val withMeta = mapped
        .withColumn("SOURCE_PRACTICE", lit(practice))
        .withColumn("SOURCE_TABLE", lit(refinedTable))
        .withColumn("PARENT_RUN_ID", lit(ctx.parentRunId))
        .withColumn("CREATED_DATE", lit(now))

      val future = spec.target.sync.flatMap(_.futureOnly) match {
        case Some(f) => withMeta.filter(CuratedOps.futureOnlyFilter(withMeta, f, lit(now)))
        case None => withMeta
      }

      catalog.append(curatedTable, future)

      // RECORD_TYPE distribution (A3); total row count = Σ distribution
      // (one action instead of a separate count job)
      val distRows = future.groupBy("RECORD_TYPE").count().collect()
      val n = distRows.map(_.getLong(1)).sum
      val dist = distRows
        .map(r => s"${r.get(0)}=${r.getLong(1)}").sorted.mkString(",")

      // CRM sync through the pluggable sink (never collects to driver)
      spec.target.sync.filter(_.enabled).foreach { sync =>
        val payload =
          if (sync.fieldMappings.isEmpty) future
          else {
            val cols = sync.fieldMappings.toSeq.sortBy(_._1).map { case (tgt, fv) =>
              CuratedOps.fieldValue(future, fv).as(tgt)
            }
            future.select(cols: _*)
          }
        val (ok, bad) = CrmBatch.deliverPartitioned(payload, "records", None,
          sync.batchSize, crmSink)
        log.foreach(_.log(ctx, practice, spec.fileType, "CRM_SYNC",
          if (bad == 0) "SUCCESS" else "PARTIAL", ok, s"failed=$bad"))
      }

      // consume the IS_VALID flags for the runs we read — scoped, so
      // rows flagged by runs arriving mid-stage are left for the next
      // pass instead of being silently zeroed
      if (consumedRunIds.nonEmpty)
        catalog.updateWhere(refinedTable, Map("IS_VALID" -> lit(0)),
          col("IS_VALID") === 1 &&
            col("REFINED_PARENT_RUN_ID").isin(consumedRunIds: _*))
      log.foreach(_.log(ctx, practice, spec.fileType, "CURATED_LOAD", "SUCCESS", n, dist))
      StageResult("SUCCESS", n, dist)
    } finally valid.unpersist()
  }
}

/** Precheck gate over staged files: per-file validation battery; FAIL
  * moves the file to the error dir (with the `_PRI_{runId}` rename) and
  * blocks ingest for the whole drop.
  * reference: SF_Notebooks/ADLS_FILE_PRECHECK.py:1172-1247. */
final class PrecheckStage(spark: SparkSession, log: Option[IngestLog] = None) {
  import graft.precheck.{CheckResult, Precheck}
  import graft.sources.ArchiveMover

  /** First `n` lines straight from the store (decompressing by codec,
    * so .gz drops behave like the text scan) — a 7-line read does not
    * warrant a Spark job per file. */
  private def readHead(file: String, n: Int): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(file)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val raw = fs.open(p)
    try {
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        .getCodec(p)
      val in: java.io.InputStream =
        if (codec != null) codec.createInputStream(raw) else raw
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Iterator.continually(br.readLine()).takeWhile(_ != null).take(n).toList
    } finally raw.close()
  }

  def run(ctx: RunContext, practice: String, spec: IngestSpec, stageDir: String,
      errorDir: Option[String]): (Boolean, Map[String, Seq[CheckResult]]) = {
    val pc = spec.precheck.getOrElse(return (true, Map.empty))
    val delimiter = spec.source.delimiter.headOption.getOrElse(',')
    val files = CsvStageReader.listFiles(spark, stageDir, spec.source.filePattern)
    if (files.isEmpty) return (true, Map.empty)
    // ONE Spark job for every file's line count (the old shape ran two
    // sequential jobs PER FILE — 2 000 jobs for a thousand-file drop);
    // the 7-line heads are direct store reads, no job at all; and ONE
    // log commit for every file's checks (a log row is a catalog commit).
    // input_file_name() is URL-encoded (`a b.csv` reads `a%20b.csv`), so
    // the key is decoded to match the listing's path.
    val totals = spark.read.textFile(files.map(_.path): _*)
      .groupBy(input_file_name().as("f")).count()
      .collect()
      .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1)).toMap
    val heads = graft.util.Concurrent.forEach(files, 16)(
      f => f.path -> readHead(f.path, 7)).toMap
    val results = files.map { f =>
      val lines = heads(f.path)
      // a file with a first line has a count; only a lineless one has none
      val total = if (lines.isEmpty) 0L else totals.getOrElse(
        new org.apache.hadoop.fs.Path(f.path).toUri.getPath,
        throw new IllegalStateException(s"precheck: no line count for ${f.path}"))
      f -> Precheck.checkFile(f.name, f.size, lines, total, delimiter, pc)
    }
    // logged before any error move, so a moved file's rows are visible
    log.foreach(_.logAll(ctx, practice, spec.fileType,
      results.flatMap(_._2).map(c =>
        LogEntry(s"PRECHECK:${c.checkName}", c.status, -1, c.details))))
    val failed = results.filter(_._2.exists(_.failed))
    failed.foreach { case (f, _) =>
      errorDir.foreach(ed => ArchiveMover.moveToError(spark, f.path, ed, ctx.parentRunId))
      ctx.notifier.notify("precheck_failed",
        Map("practice" -> practice, "file" -> f.name))
    }
    (failed.isEmpty, results.map { case (f, cs) => f.name -> cs }.toMap)
  }
}

/** Opt-in streaming-refined configuration for [[Pipeline]]: where the
  * streamed refined rows and the stream checkpoint live. */
final case class StreamingRefinedDirs(refinedDir: String, checkpointDir: String)

/** Full medallion pipeline: precheck gate → RAW → REFINED → CURATED,
  * stage chaining as plain function calls (the reference's stored-proc
  * CALL chain, SURVEY §3.1). On success, staged files move to the
  * archive dir (W9). With `streamingRefined` set, the REFINED stage
  * runs as a checkpointed stream ([[StreamingRefinedStage]]) instead of
  * the flag machine — RAW stays append-only, no rewrite per run. */
final class Pipeline(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None, crmSink: CrmSink = DryRunCrmSink,
    streamingRefined: Option[StreamingRefinedDirs] = None) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec,
      stageDir: String, errorDir: Option[String] = None,
      archiveDir: Option[String] = None): Seq[(String, StageResult)] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, StageResult)]
    if (spec.precheck.isDefined) {
      val (ok, checks) = new PrecheckStage(spark, log).run(ctx, practice, spec,
        stageDir, errorDir)
      val failedChecks = checks.values.flatten.count(_.failed)
      results += ("PRECHECK" -> StageResult(if (ok) "SUCCESS" else "FAILED",
        checks.size, s"$failedChecks failed checks"))
      if (!ok) return results.toSeq
    }
    val raw = new RawStage(spark, catalog, log).run(ctx, practice, spec, stageDir)
    results += ("RAW" -> raw)
    if (raw.status == "SUCCESS") archiveDir.foreach { ad =>
      graft.sources.ArchiveMover.moveAllToArchive(spark,
        CsvStageReader.listFiles(spark, stageDir, spec.source.filePattern)
          .map(_.path), ad)
      ctx.notifier.notify("archived", Map("practice" -> practice))
    }
    if (raw.status == "SUCCESS" && spec.target.refinedTable.isDefined) {
      streamingRefined match {
        case Some(dirs) =>
          // streaming mode replaces the flag machine; the refined store
          // is the stream's append-only output dir (no curated chaining
          // here — downstream consumes the stream output)
          results += ("REFINED_STREAM" -> new StreamingRefinedStage(spark,
            catalog, log).run(ctx, practice, spec,
            dirs.refinedDir, dirs.checkpointDir))
        case None =>
          val refined = new RefinedStage(spark, catalog, log).run(ctx, practice, spec)
          results += ("REFINED" -> refined)
          if (refined.status == "SUCCESS" && spec.target.curatedTable.isDefined) {
            results += ("CURATED" ->
              new CuratedStage(spark, catalog, log, crmSink).run(ctx, practice, spec))
          }
      }
    }
    results.toSeq
  }
}
