package graft.perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession

import graft.catalog.TableCatalog
import graft.config.{IngestConfig, IngestSpec}
import graft.plans._

/** One generated practice file drop. `known` marks the keys already in
  * the lookup table (they classify UPDATE); a defective drop's header
  * misses an expected column, so precheck must reject it. */
final case class Drop(index: Int, gz: Boolean, defect: Boolean,
    keys: IndexedSeq[Long], segments: IndexedSeq[String],
    known: IndexedSeq[Boolean]) {
  def fileName: String = f"drop_$index%04d.csv" + (if (gz) ".gz" else "")

  /** CURATED rows this drop must add: FURNITURE is filtered out. */
  def curatedNew: Long = rows.count { case (_, s, k) => s != "FURNITURE" && !k }
  def curatedUpdate: Long = rows.count { case (_, s, k) => s != "FURNITURE" && k }
  private def rows = keys.indices.map(i => (keys(i), segments(i), known(i)))

  def csv: String = {
    val header = if (defect) "cust id,Cust Name,Segmnt" else "cust id,Cust Name,Segment"
    val sb = new StringBuilder(header).append('\n')
    keys.indices.foreach { i =>
      sb.append('#').append(keys(i)).append(',')
        .append(f"Customer#${keys(i)}%09d").append(',')
        .append(segments(i)).append('\n')
    }
    sb.toString
  }
}

object MedallionGen {
  val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "MACHINERY", "HOUSEHOLD")
  /** The size of the pipeline's oracle fixture (q47 in
    * `QueriesPipeline`): the customers with keys 1 to 499. */
  val RowsPerDrop = 499
  /** q47's lookup knows every third key. */
  val KnownShare = 1.0 / 3

  /** `n` drops: per deck of 8, one defective, two gzipped, five plain.
    * No source gives these shares; they are assumptions (README.md). */
  def drops(seed: Long, n: Int): IndexedSeq[Drop] = {
    val kinds = Workload.deck(seed, Seq("defect" -> 1, "gz" -> 2, "plain" -> 5), n)
    val rng = new scala.util.Random(seed * 31 + 7)
    (0 until n).map { d =>
      val keys = (0 until RowsPerDrop).map(i => d.toLong * RowsPerDrop + i + 1)
      Drop(d, kinds(d) == "gz", kinds(d) == "defect", keys,
        keys.map(_ => Segments(rng.nextInt(Segments.size))),
        keys.map(_ => rng.nextDouble() < KnownShare))
    }
  }
}

/** Practice file drops through `Pipeline.run` (precheck, IngestLog and
  * archive moves on) into one warehouse that grows across the run. */
final class MedallionDrops(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload {
  import MedallionDrops._

  private var drops: IndexedSeq[Drop] = IndexedSeq.empty
  private var dir = ""
  private var cat: TableCatalog = _
  private var log: IngestLog = _
  private val spec: IngestSpec = {
    // the oracle-gated pipeline practice, widened to accept .gz drops
    val from = """".*\\.csv$""""
    require(graft.QueriesPipeline.configJson.contains(from),
      "pipeline practice config changed shape")
    IngestConfig.parse(graft.QueriesPipeline.configJson
      .replace(from, """".*\\.csv(\\.gz)?$"""")).practices.head.ingest.head
  }
  private val curated = spec.target.curatedTable.get
  // what has run so far: (drop, accepted)
  private val done = scala.collection.mutable.ArrayBuffer.empty[(Drop, Boolean)]
  private val writtenPerDrop = scala.collection.mutable.ArrayBuffer.empty[Double]

  private def stageDir(d: Drop) = f"$dir/stage/d${d.index}%04d"
  private def warehouse = s"$dir/warehouse"

  def setup(d: String): Unit = {
    dir = d
    done.clear()
    writtenPerDrop.clear()
    drops = MedallionGen.drops(seed, MaxDrops)
    drops.foreach { dr =>
      val f = new java.io.File(stageDir(dr), dr.fileName)
      f.getParentFile.mkdirs()
      val raw = new FileOutputStream(f)
      val out = new BufferedWriter(new OutputStreamWriter(
        if (dr.gz) new GZIPOutputStream(raw) else raw, "UTF-8"))
      try out.write(dr.csv) finally out.close()
    }
    cat = Workload.catalog(spark, warehouse, tracer, LogTable)
    log = new IngestLog(spark, cat, LogTable)
    import spark.implicits._
    val knownIds = drops.flatMap(dr => dr.keys.indices.filter(dr.known)
      .map(i => dr.keys(i).toString))
    cat.append(spec.target.curatedLookup.get.lookupTable,
      knownIds.toDF("KNOWN_ID").coalesce(1))
  }

  // drop latency falls over the first few drops while the JIT compiles
  // the pipeline's and the catalog's code paths; the first timed drop
  // was the slowest with two untimed ones
  def warmupSteps: Int = 3

  def maxSteps: Int = MaxDrops

  def step(i: Int): Outcome = {
    val dr = drops(i)
    val ctx = RunContext()
    val stage = stageDir(dr)
    val w0 = fsBytesWritten()
    val (results, dt) = Workload.timed {
      if (tracer.enabled) tracedRun(ctx, stage)
      else new Pipeline(spark, cat, Some(log)).run(ctx, Practice, spec, stage,
        Some(s"$dir/error"), Some(s"$dir/archive"))
    }
    val accepted = !results.exists { case (k, r) =>
      k == "PRECHECK" && r.status == "FAILED" }
    done += dr -> accepted
    if (accepted) writtenPerDrop += (fsBytesWritten() - w0).toDouble
    val expectDist = Seq("NEW" -> dr.curatedNew, "UPDATE" -> dr.curatedUpdate)
      .filter(_._2 > 0).map { case (k, n) => s"$k=$n" }.sorted.mkString(",")
    val ok =
      if (dr.defect) !accepted &&
        new java.io.File(s"$dir/error").list().exists(f =>
          f.startsWith(f"drop_${dr.index}%04d") && f.contains("_PRI_"))
      else {
        val st = results.toMap
        results.map(_._1) == Seq("PRECHECK", "RAW", "REFINED", "CURATED") &&
          results.forall(_._2.status == "SUCCESS") &&
          st("RAW").rowCount == dr.keys.size &&
          st("REFINED").rowCount == dr.keys.size &&
          st("CURATED").rowCount == dr.curatedNew + dr.curatedUpdate &&
          st("CURATED").details == expectDist &&
          new java.io.File(s"$dir/archive", dr.fileName).isFile
      }
    Outcome(if (dr.defect) "rejected_drop" else "drop", dt, ok,
      if (accepted) dr.keys.size else 0, results.mkString("; "))
  }

  /** `Pipeline.run`'s chaining and gating, with a span around each stage. */
  private def tracedRun(ctx: RunContext, stage: String): Seq[(String, StageResult)] =
    tracer.op("drop") {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, StageResult)]
      val (ok, checks) = tracer.span("plans.precheck")(
        new PrecheckStage(spark, Some(log)).run(ctx, Practice, spec, stage,
          Some(s"$dir/error")))
      out += "PRECHECK" -> StageResult(if (ok) "SUCCESS" else "FAILED",
        checks.size, s"${checks.values.flatten.count(_.failed)} failed checks")
      if (ok) {
        val raw = tracer.span("plans.raw")(
          new RawStage(spark, cat, Some(log)).run(ctx, Practice, spec, stage))
        out += "RAW" -> raw
        if (raw.status == "SUCCESS") tracer.span("plans.archive") {
          graft.sources.ArchiveMover.moveAllToArchive(spark,
            graft.sources.CsvStageReader.listFiles(spark, stage,
              spec.source.filePattern).map(_.path), s"$dir/archive")
          ctx.notifier.notify("archived", Map("practice" -> Practice))
        }
        if (raw.status == "SUCCESS") {
          val refined = tracer.span("plans.refined")(
            new RefinedStage(spark, cat, Some(log)).run(ctx, Practice, spec))
          out += "REFINED" -> refined
          if (refined.status == "SUCCESS")
            out += "CURATED" -> tracer.span("plans.curated")(
              new CuratedStage(spark, cat, Some(log)).run(ctx, Practice, spec))
        }
      }
      out.toSeq
    }

  def finalCheck(): Seq[String] = {
    val acc = done.filter(_._2).map(_._1)
    val want = Map("NEW" -> acc.map(_.curatedNew).sum,
      "UPDATE" -> acc.map(_.curatedUpdate).sum).filter(_._2 > 0)
    val got = cat.read(curated).groupBy("RECORD_TYPE").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rejected = done.filterNot(_._2).map(_._1.index).toSet
    val planted = done.filter(_._1.defect).map(_._1.index).toSet
    (if (got != want) Seq(s"CURATED distribution $got, expected $want") else Nil) ++
      (if (rejected != planted) Seq(s"rejected $rejected, planted defects $planted")
       else Nil)
  }

  def latencyKinds: Set[String] = Set("drop")

  def named(ops: Seq[OpRec]): Seq[Named] = {
    val drops = ops.filter(_.kind == "drop").map(_.durS)
    val (tail, pct, n) = Stats.tail(drops)
    val staged = done.filter(_._2).map { case (d, _) =>
      new java.io.File(s"$dir/archive", d.fileName).length() }.sum
    Seq(
      Named("drop_p50_s", Stats.median(drops), "s", Seq("n" -> n.toString)),
      Named("drop_tail_s", tail, "s",
        Seq("percentile" -> Json.num(pct), "n" -> n.toString)),
      Named("ingest_rows_per_s", ops.map(_.units).sum / ops.map(_.durS).sum, "1/s"),
      Named("space_amp", Workload.duBytes(warehouse).toDouble / staged, "ratio",
        Seq("staged_bytes" -> staged.toString)),
      Named("rows_per_drop", MedallionGen.RowsPerDrop.toDouble, "count"))
  }

  override def coverage(spans: Seq[Span]): Option[(String, Seq[Double])] =
    Some("plans.stage_coverage_min" -> Tracer.coverage(spans, "drop",
      Set("plans.precheck", "plans.raw", "plans.refined", "plans.curated")))

  def layerExtras(spans: Seq[Span], splits: Map[Int, Split]): Map[String, Double] = {
    val dropSpans = spans.filter(s => s.parent < 0 && s.name == "drop")
    val byTrace = spans.groupBy(_.trace)
    val accepted = dropSpans.filter(d => byTrace(d.trace).exists(_.name == "plans.raw"))
    val commits = Set("catalog.append", "catalog.log_append",
      "catalog.update_where", "catalog.delete_dv")
    val nCommits = accepted.map(d => byTrace(d.trace).count(s => commits(s.name))).sum
    val tables = Seq(spec.target.rawTable, spec.target.refinedTable,
      spec.target.curatedTable).flatten :+ LogTable
    Map(
      "catalog.commits_per_drop" ->
        (if (accepted.isEmpty) 0.0 else nCommits.toDouble / accepted.size),
      "catalog.chain_len" -> cat.version(LogTable).map(_ + 1.0).getOrElse(0.0),
      "catalog.live_files" -> tables.map(t => cat.fileStats(t)._1.toDouble).sum,
      "catalog.bytes_written_per_drop" ->
        (if (writtenPerDrop.isEmpty) 0.0 else writtenPerDrop.sum / writtenPerDrop.size))
  }
}

object MedallionDrops {
  val Practice = "oracle_practice"
  val LogTable = "LOG.S.INGEST_LOG"
  /** Drops staged per set-up: more than any run reaches. */
  val MaxDrops = 32

  /** Bytes written through the local Hadoop file system so far (data,
    * sidecars and metadata of every commit; the drop files are staged
    * with plain java.io and do not count). */
  def fsBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
}
