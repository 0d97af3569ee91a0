package graft.plans

import java.util.UUID
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  *
  * Every write is one versioned catalog commit, so rows go out in as
  * few commits as the caller can afford: [[logAll]] writes a batch in
  * one, and a [[IngestLog.deferred]] copy (what [[Pipeline.run]] hands
  * its stages) gathers a whole run's rows and writes them in one
  * commit at [[flush]]. Each row keeps the LOG_TIME of the call that
  * logged it, so per-step timing survives the deferral; a JVM killed
  * mid-run loses that run's log rows, never its data rows. */
final class IngestLog private (spark: SparkSession, catalog: TableCatalog,
    logTable: String, pending: Option[ArrayBuffer[Row]]) {
  def this(spark: SparkSession, catalog: TableCatalog, logTable: String) =
    this(spark, catalog, logTable, None)

  def log(ctx: RunContext, practice: String, fileType: String, step: String,
      status: String, rowCount: Long = -1, error: String = ""): Unit =
    logAll(ctx, practice, fileType, Seq(LogEntry(step, status, rowCount, error)))

  /** All `entries` in ONE commit of one data file (coalesce(1): a local
    * frame otherwise splits into one file per core), or, on a deferred
    * log, into its pending rows; each row gets its own LOG_ID, all
    * share one LOG_TIME. No entries, no commit. */
  def logAll(ctx: RunContext, practice: String, fileType: String,
      entries: Seq[LogEntry]): Unit = if (entries.nonEmpty) {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val rows = entries.map(e => Row(ctx.newLogId(), ctx.parentRunId, practice,
      fileType, e.step, e.status, e.rowCount, e.error, now))
    pending match {
      case Some(buf) => buf.synchronized(buf ++= rows)
      case None => write(rows)
    }
  }

  /** Commit a deferred log's pending rows (one commit; none pending, no
    * commit). A no-op on a log that writes through. */
  def flush(): Unit = pending.foreach { buf =>
    write(buf.synchronized { val rows = buf.toList; buf.clear(); rows })
  }

  private def deferredCopy: IngestLog =
    new IngestLog(spark, catalog, logTable, Some(ArrayBuffer.empty))

  private def write(rows: Seq[Row]): Unit = if (rows.nonEmpty)
    catalog.append(logTable,
      spark.createDataFrame(rows.asJava, IngestLog.Schema).coalesce(1))
}

object IngestLog {
  /** `body` with a deferred copy of `log`, private to this call, whose
    * rows are committed in ONE commit when `body` ends — in a `finally`,
    * so a stage that throws still records the steps before it (a
    * failing flush is then suppressed into the stage's exception). */
  def deferred[T](log: Option[IngestLog])(body: Option[IngestLog] => T): T = {
    val run = log.map(_.deferredCopy)
    var thrown: Throwable = null
    try body(run)
    catch { case t: Throwable => thrown = t; throw t }
    finally run.foreach { l =>
      try l.flush()
      catch { case scala.util.control.NonFatal(e) if thrown != null =>
        thrown.addSuppressed(e) }
    }
  }

  /** The log table's columns, fixed once: no encoder derived per call.
    * ROW_COUNT is the only non-nullable one (a primitive long). */
  val Schema: StructType = StructType(
    Seq("LOG_ID", "PARENT_RUN_ID", "PRACTICE_NAME", "FILE_TYPE", "STEP_NAME",
      "STATUS").map(StructField(_, StringType)) ++ Seq(
      StructField("ROW_COUNT", LongType, nullable = false),
      StructField("ERROR_MESSAGE", StringType),
      StructField("LOG_TIME", TimestampType)))
}

final case class StageResult(status: String, rowCount: Long, details: String = "")

/** RAW stage: stage files → multi-file CSV scan → metadata columns →
  * append to the RAW table.
  *
  * Unlike the reference's per-file loop
  * (RAW_ADLS_TO_RAW_SNOWFLAKE.py:1180-1244) all matched files that
  * share a header load in ONE scan, its header read on the driver
  * ([[CsvStageReader.read]]: the stage's only job is the append);
  * per-file lineage comes from input_file_name(). IS_NEW is only
  * attached when a refined stage is configured (:1224-1231).
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
    val withMeta = RefinedOps.withRawMetadata(df, ctx.parentRunId,
      markNew = spec.target.refinedTable.isDefined,
      fileName = CsvStageReader.fileName)

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

/** The flag machine's handoff from a source layer to the next (SURVEY
  * §3.1): the next layer consumes the source's rows flagged `flag = 1`,
  * then the source's flags are cleared. A handoff pins the source's
  * snapshot and the files of it that can hold a flagged row
  * ([[TableCatalog.candidateFiles]]: commit metadata, no job when the
  * stats isolate them); [[run]] stages the clear of exactly those files
  * on a helper thread while the caller writes downstream, then commits
  * it — downstream first, source clear second.
  *
  * Rows committed to the source after the pin live in other files, so
  * they are neither consumed nor cleared and wait for the next pass:
  * the reference's read-then-clear race
  * (RAW_SNOWFLAKE_TO_REFINED_SNOWFLAKE.py:379 vs :717) stays fixed with
  * no run-id scoping, and the clear rebases over such an append. */
private[plans] final class FlagHandoff(catalog: TableCatalog,
    source: String, flag: String) {
  private val pinned = catalog.snapshot(source)
  private val hit = catalog.candidateFiles(pinned, col(flag) === 1)

  /** No file of the pinned snapshot holds a flagged row. */
  def isEmpty: Boolean = hit.isEmpty

  /** `downstream` over the pinned snapshot's flagged rows, with their
    * clear staged beside it and committed after it. If `downstream`
    * throws, the staging is discarded and the flags stay set. The
    * helper thread makes no public catalog call, and it inherits the
    * caller's Spark job group. */
  def run[T](downstream: DataFrame => T): T = {
    val flagged = catalog.readVersion(source, pinned.version).filter(col(flag) === 1)
    if (hit.isEmpty) return downstream(flagged)
    val staging = new java.util.concurrent.FutureTask(() =>
      catalog.stageUpdate(pinned, hit, Map(flag -> lit(0)), col(flag) === 1))
    val stager = new Thread(staging, s"graft-clear-$source")
    stager.setDaemon(true)
    stager.start()
    def staged = try staging.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    val out =
      try downstream(flagged)
      catch { case t: Throwable =>
        try staged.discard()
        catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
        throw t
      }
    staged.commit()
    out
  }
}

/** REFINED stage: consume RAW rows WHERE IS_NEW=1, apply the transform
  * chain, append to REFINED, then clear IS_NEW on the RAW snapshot that
  * was read ([[FlagHandoff]]): 4 Spark jobs — the append, the clear's
  * data and change writes (staged beside the append), the log.
  */
final class RefinedStage(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec): StageResult = {
    val rawTable = spec.target.rawTable.get
    val refinedTable = spec.target.refinedTable.getOrElse(
      throw new IllegalArgumentException("no refined table configured"))
    val handoff = new FlagHandoff(catalog, rawTable, "IS_NEW")
    if (handoff.isEmpty) {
      log.foreach(_.log(ctx, practice, spec.fileType, "REFINED_LOAD", "SKIPPED", 0))
      return StageResult("SKIPPED", 0, "no IS_NEW rows")
    }
    val n = handoff.run { batch =>
      // the refined transform chain is 1:1 — regex/split/strip/project
      // never add or drop rows — so the count observed on the append is
      // the batch's
      val obs = org.apache.spark.sql.Observation()
      val out = RefinedOps.withRefinedMetadata(
        RefinedOps.refinedTransform(batch, spec.target), ctx.parentRunId)
      catalog.append(refinedTable, out.observe(obs, count(lit(1)).as("n")))
      obs.get("n").asInstanceOf[Long]
    }
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
    // the drain's own input count: the refined transform is 1:1, and no
    // job re-reads the refined store (whose size grows with history)
    val n = graft.streaming.IncrementalRefined.drainOnce(spark,
      catalog.versionGlob(rawTable), refinedDir, checkpointDir,
      spec.target, schema, ctx.parentRunId)
    log.foreach(_.log(ctx, practice, spec.fileType, "REFINED_STREAM", "SUCCESS", n))
    StageResult("SUCCESS", n)
  }
}

/** CURATED stage: mapping projection + metadata columns + lookup
  * classification + source filters + optional future-only filter →
  * INSERT INTO curated; RECORD_TYPE distribution; CRM sync through the
  * sink trait; clear IS_VALID on the REFINED snapshot that was read
  * ([[FlagHandoff]]). Without a sync, 5 Spark jobs: the lookup's
  * broadcast, the append, the clear's data and change writes (staged
  * beside the append), the log.
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
    val syncs = spec.target.sync.filter(_.enabled)
    val (n, dist) = new FlagHandoff(catalog, refinedTable, "IS_VALID").run { flagged =>
      // source rows: IS_VALID=1 AND config filters (the clear consumes
      // every flagged row of the pinned snapshot, filtered or not)
      val valid = flagged
        .filter(CuratedOps.compileFilter(flagged, spec.target.sourceFilter))
      // a CRM sync re-reads the batch after the append (the reference
      // recomputes this SELECT 3-4×, SURVEY §4), so it is cached then;
      // without one the append is its only reader, and under AQE a cache
      // is a job of its own
      if (syncs.nonEmpty) valid.cache()
      try load(ctx, practice, spec, valid, curatedTable, refinedTable, now, syncs)
      finally if (syncs.nonEmpty) valid.unpersist()
    }
    log.foreach(_.log(ctx, practice, spec.fileType, "CURATED_LOAD", "SUCCESS", n, dist))
    StageResult("SUCCESS", n, dist)
  }

  /** Classify, map and append `valid` to the curated table, then run the
    * CRM sync: the row count and the RECORD_TYPE distribution. */
  private def load(ctx: RunContext, practice: String, spec: IngestSpec,
      valid: DataFrame, curatedTable: String, refinedTable: String,
      now: java.sql.Timestamp, syncs: Option[SyncSpec]): (Long, String) = {
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

    // RECORD_TYPE distribution (A3) observed ON the append: the
    // classification can only yield the configured values (or null,
    // when the mapping does not carry the lookup's result column), so
    // one conditional sum per value plus the row count cover it with
    // no second evaluation of the lookup join
    val values = spec.target.curatedLookup
      .map(lk => Seq(lk.matchValue, lk.noMatchValue)).getOrElse(Seq("NEW"))
      .distinct.map(Option(_)) :+ None
    val obs = org.apache.spark.sql.Observation()
    catalog.append(curatedTable, future.observe(obs, count(lit(1)).as("n"),
      values.zipWithIndex.map { case (v, i) =>
        sum(when(v.fold(col("RECORD_TYPE").isNull)(col("RECORD_TYPE") === _),
          1L).otherwise(0L)).as(s"v$i")
      }: _*))
    val seen = obs.get
    val n = seen("n").asInstanceOf[Long]
    val counts = values.indices.map(i =>
      Option(seen(s"v$i")).fold(0L)(_.asInstanceOf[Long]))
    if (counts.sum != n) throw new IllegalStateException(
      s"CURATED RECORD_TYPE distribution covers ${counts.sum} of $n rows")
    val dist = values.zip(counts).filter(_._2 > 0)
      .map { case (v, c) => s"${v.orNull}=$c" }.sorted.mkString(",")

    // CRM sync through the pluggable sink (never collects to driver)
    syncs.foreach { sync =>
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
    (n, dist)
  }
}

/** Precheck gate over staged files: per-file validation battery; FAIL
  * moves the file to the error dir (with the `_PRI_{runId}` rename) and
  * blocks ingest for the whole drop.
  * reference: SF_Notebooks/ADLS_FILE_PRECHECK.py:1172-1247. */
final class PrecheckStage(spark: SparkSession, log: Option[IngestLog] = None) {
  import graft.precheck.{CheckResult, Precheck}
  import graft.sources.ArchiveMover

  def run(ctx: RunContext, practice: String, spec: IngestSpec, stageDir: String,
      errorDir: Option[String]): (Boolean, Map[String, Seq[CheckResult]]) = {
    val pc = spec.precheck.getOrElse(return (true, Map.empty))
    val delimiter = spec.source.delimiter.headOption.getOrElse(',')
    val files = CsvStageReader.listFiles(spark, stageDir, spec.source.filePattern)
    if (files.isEmpty) return (true, Map.empty)
    // ONE Spark job, with no exchange, for every file's line count (the
    // old shape ran two sequential jobs PER FILE — 2 000 jobs for a
    // thousand-file drop); the 7-line heads are direct store reads, no
    // job at all; and ONE log commit for every file's checks (a log row
    // is a catalog commit). input_file_name() is URL-encoded (`a b.csv`
    // reads `a%20b.csv`), so the key is decoded to match the listing's
    // path.
    val totals = graft.util.SmallAgg.countBy(
        spark.read.textFile(files.map(_.path): _*).toDF(), input_file_name())
      .map { case (f, n) => new java.net.URI(f).getPath -> n }
    val heads = graft.util.Concurrent.forEach(files, 16)(
      f => f.path -> CsvStageReader.readHead(spark, f.path, 7)).toMap
    val results = files.map { f =>
      val lines = heads(f.path)
      // a file with a first line has a count; only a lineless one has none
      val total = if (lines.isEmpty) 0L else totals.getOrElse(
        new org.apache.hadoop.fs.Path(f.path).toUri.getPath,
        throw new IllegalStateException(s"precheck: no line count for ${f.path}"))
      f -> Precheck.checkFile(f.name, f.size, lines, total, delimiter, pc)
    }
    log.foreach(_.logAll(ctx, practice, spec.fileType,
      results.flatMap(_._2).map(c =>
        LogEntry(s"PRECHECK:${c.checkName}", c.status, -1, c.details))))
    val failed = results.filter(_._2.exists(_.failed))
    // committed before any error move (a deferred log too), so a moved
    // file's rows are visible
    if (failed.nonEmpty) log.foreach(_.flush())
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
  * the flag machine — RAW stays append-only, no rewrite per run.
  *
  * Logging: every stage of one run logs into a deferred copy of `log`
  * ([[IngestLog.deferred]]), so the whole run's rows — precheck
  * checks, RAW_LOAD, REFINED_LOAD, CURATED_LOAD, CRM_SYNC — are ONE
  * log commit, made when the run ends, also when a stage throws. A
  * rejecting precheck commits its rows before its first error move.
  * The reference writes one log row per step; here an accepted drop
  * makes 6 catalog commits (RAW, REFINED, the RAW flag clear, CURATED,
  * the REFINED flag clear, the log) and 10 Spark jobs: precheck 1, RAW
  * 1, REFINED 3, CURATED 4, the log 1. Each flag clear is pinned to the
  * source snapshot its stage read, staged beside that stage's append
  * and committed after it ([[FlagHandoff]]). A JVM killed mid-run loses
  * the run's log rows but no data rows. */
final class Pipeline(spark: SparkSession, catalog: TableCatalog,
    log: Option[IngestLog] = None, crmSink: CrmSink = DryRunCrmSink,
    streamingRefined: Option[StreamingRefinedDirs] = None) {

  def run(ctx: RunContext, practice: String, spec: IngestSpec,
      stageDir: String, errorDir: Option[String] = None,
      archiveDir: Option[String] = None): Seq[(String, StageResult)] =
    IngestLog.deferred(log) { runLog =>
      val precheck = spec.precheck.map { _ =>
        val (ok, checks) = new PrecheckStage(spark, runLog).run(ctx, practice, spec,
          stageDir, errorDir)
        val failedChecks = checks.values.flatten.count(_.failed)
        "PRECHECK" -> StageResult(if (ok) "SUCCESS" else "FAILED",
          checks.size, s"$failedChecks failed checks")
      }
      if (precheck.exists(_._2.status == "FAILED")) precheck.toSeq
      else precheck.toSeq ++ ingest(ctx, practice, spec, stageDir, archiveDir, runLog)
    }

  /** RAW, the archive move, then REFINED (flag machine or stream) and
    * CURATED, each gated on the one before. */
  private def ingest(ctx: RunContext, practice: String, spec: IngestSpec,
      stageDir: String, archiveDir: Option[String], runLog: Option[IngestLog])
      : Seq[(String, StageResult)] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, StageResult)]
    val raw = new RawStage(spark, catalog, runLog).run(ctx, practice, spec, stageDir)
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
            catalog, runLog).run(ctx, practice, spec,
            dirs.refinedDir, dirs.checkpointDir))
        case None =>
          val refined = new RefinedStage(spark, catalog, runLog).run(ctx, practice, spec)
          results += ("REFINED" -> refined)
          if (refined.status == "SUCCESS" && spec.target.curatedTable.isDefined) {
            results += ("CURATED" ->
              new CuratedStage(spark, catalog, runLog, crmSink).run(ctx, practice, spec))
          }
      }
    }
    results.toSeq
  }
}
