package graft

import graft.catalog.TableCatalog
import graft.config.IngestConfig
import graft.plans.{IngestLog, Pipeline, RunContext}

/** CLI pipeline runner — the operational entry point a user of the
  * reference system would invoke per file-drop:
  *
  * {{{
  * runMain graft.RunPipeline <configPath> <warehouseDir> \
  *   "practice=<name>|file_type=<type>|stage_dir=<dir>[|error_dir=..][|archive_dir=..][|run_id=..]"
  * }}}
  *
  * Parameters use the reference's pipe-delimited `k=v` convention
  * (parsed by [[graft.sources.Params]]). Exit code 0 only when every
  * executed stage succeeds; stage results print one per line.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    if (args.length != 3) {
      System.err.println(
        "usage: graft.RunPipeline <configPath> <warehouseDir> <params>")
      sys.exit(2)
    }
    val Array(configPath, warehouse, rawParams) = args
    val params = graft.sources.Params.parse(rawParams)
    val practice = params.get("practice").getOrElse(
      sys.error("practice= required"))
    val fileType = params.get("file_type").getOrElse(
      sys.error("file_type= required"))
    val stageDir = params.get("stage_dir").getOrElse(
      sys.error("stage_dir= required"))

    val cfg = IngestConfig.parseFile(configPath)
    val spec = cfg.practices.find(_.practiceName == practice)
      .getOrElse(sys.error(s"unknown practice: $practice"))
      .ingest.find(_.fileType == fileType)
      .getOrElse(sys.error(s"unknown file_type: $fileType"))

    val spark = Harness.session(Harness.cpus)

    val catalog = new TableCatalog(spark, warehouse)
    val log = new IngestLog(spark, catalog, "GRAFT.LOGS.INGEST_LOG")
    val ctx = params.get("run_id").map(id => RunContext(parentRunId = id))
      .getOrElse(RunContext())
    val results = new Pipeline(spark, catalog, Some(log)).run(
      ctx, practice, spec, stageDir,
      params.get("error_dir"), params.get("archive_dir"))
    results.foreach { case (stage, r) =>
      println(s"$stage: ${r.status} rows=${r.rowCount} ${r.details}")
    }
    println(s"run_id=${ctx.parentRunId}")
    spark.stop()
    if (results.forall(_._2.status == "SUCCESS")) sys.exit(0) else sys.exit(1)
  }
}
