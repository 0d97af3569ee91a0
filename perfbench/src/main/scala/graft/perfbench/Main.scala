package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.TableCatalog

/** One benchmark run: set up the workload several times (set-up time is
  * their median), warm up, run the closed loop for `--seconds`, check
  * the final state, then print a report line and, last, the result.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` reports the
  * per-layer metrics: it alternates traced and untraced operations, so
  * the difference of their medians is the tracing overhead. */
object Main {
  val SetupReps = 3
  /** The least share of a traced operation its layer spans must cover. */
  val CoverageFloor = 0.95

  /** (name, unit) of every end-to-end metric; all workloads report all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "throughput_per_s" -> "1/s")

  /** Spans split into job time, driver gap, jobs, GC, task wait, self. */
  val SpanLayers: Seq[String] = Seq(
    "plans.precheck", "plans.raw", "plans.refined", "plans.curated",
    "catalog.append", "catalog.log_append", "catalog.update_where",
    "catalog.read", "catalog.delete_dv",
    "connector.plan", "connector.exec", "operators.plan", "operators.exec")
  val SpanStats: Seq[(String, String)] = Seq("jobs_s" -> "s", "gap_s" -> "s",
    "n_jobs" -> "count", "gc_s" -> "s", "task_wait_s" -> "s", "self_s" -> "s")

  /** (name, unit, better) of every per-layer metric. */
  val PerLayer: Seq[(String, String, String)] = {
    val named = Seq(
      ("plans.precheck_s", "s", "lower"), ("plans.raw_s", "s", "lower"),
      ("plans.refined_s", "s", "lower"), ("plans.curated_s", "s", "lower"),
      ("plans.stage_coverage_min", "ratio", "higher"),
      ("catalog.append_s", "s", "lower"), ("catalog.log_append_s", "s", "lower"),
      ("catalog.update_where_s", "s", "lower"), ("catalog.read_s", "s", "lower"),
      ("catalog.delete_dv_s", "s", "lower"),
      ("catalog.commits_per_drop", "count", "lower"),
      ("catalog.chain_len", "count", "lower"),
      ("catalog.live_files", "count", "lower"),
      ("catalog.bytes_written_per_drop", "bytes", "lower"),
      ("catalog.meta_cache_hit_ratio", "ratio", "higher"),
      ("catalog.meta_cache_lookups", "count", "lower")) ++
      TableScans.Reads.flatMap(k => Seq(
        (s"connector.plan_s.$k", "s", "lower"),
        (s"connector.exec_s.$k", "s", "lower"),
        (s"connector.bytes_read_frac.$k", "ratio", "lower"))) ++ Seq(
      ("connector.jobs_per_op", "count", "lower"),
      ("connector.read_coverage_min", "ratio", "higher"),
      ("operators.shuffle_mb", "MB", "lower"),
      ("operators.pairs_per_batch", "count", "lower"),
      ("operators.docs_per_batch", "count", "higher"),
      ("trace.overhead_s", "s", "lower"))
    named ++ SpanLayers.flatMap(l => SpanStats.map { case (st, u) =>
      (s"$l.$st", u, "lower") })
  }

  def workload(name: String, spark: SparkSession, tracer: Tracer,
      seed: Long): Workload = name match {
    case "medallion_drops" => new MedallionDrops(spark, tracer, seed)
    case "table_scans" => new TableScans(spark, tracer, seed)
    case "dedup_corpus" => new DedupCorpus(spark, tracer, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val host = new HostSentinel
    val spark = Harness.session(o.cores, o.work)
    val code =
      try run(o, spark, host)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(o: Opts, spark: SparkSession, host: HostSentinel): Int = {
    val tracer = new Tracer(o.trace)
    val heap = new HeapSampler
    val wl = workload(o.workload, spark, tracer, o.seed)
    tracer.paused = true
    val setupTimes = (0 until SetupReps).map { r =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      wl.setup(s"${o.work}/setup$r")
      val dt = (System.nanoTime() - t0) / 1e9
      if (r > 0) Workload.deleteTree(s"${o.work}/setup${r - 1}")
      dt
    }
    val listener = if (o.trace) Some(new JobListener(spark.sparkContext)) else None

    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def one(i: Int): OpRec = {
      val t0 = System.nanoTime()
      val out =
        try wl.step(i)
        catch { case e: Exception =>
          Outcome("error", (System.nanoTime() - t0) / 1e9, ok = false, 0, e.toString)
        }
      heap.sample()
      attempted += 1
      if (!out.ok) errors += s"operation $i (${out.kind}): ${out.detail}".take(2000)
      OpRec(out.kind, out.durS, out.units, !tracer.paused)
    }
    (0 until wl.warmupSteps).foreach(one)
    heap.reset()
    val hits0 = TableCatalog.metaCacheHits.get
    val misses0 = TableCatalog.metaCacheMisses.get
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val loopT0 = System.nanoTime()
    var i = wl.warmupSteps
    while (System.nanoTime() - loopT0 < o.seconds * 1000000000L && i < wl.maxSteps) {
      tracer.paused = !o.trace || (i - wl.warmupSteps) % 2 == 1
      ops += one(i)
      i += 1
    }
    tracer.paused = true
    val hits = TableCatalog.metaCacheHits.get - hits0
    val misses = TableCatalog.metaCacheMisses.get - misses0
    attempted += 1
    val finalErrors =
      try wl.finalCheck()
      catch { case e: Exception => Seq(s"final check failed: $e") }
    if (finalErrors.nonEmpty) errors += finalErrors.mkString("; ")
    val coverage = if (o.trace) wl.coverage(tracer.all) else None
    coverage.foreach { case (metric, shares) =>
      attempted += 1
      errors ++= coverageErrors(metric, shares)
    }
    val failed = errors.size
    errors.foreach(e => System.err.println(s"WRONG: $e"))

    val lat = ops.filter(r => wl.latencyKinds(r.kind))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        Seq(("setup_s", Stats.median(setupTimes), "s"),
          ("op_p50_s", wl.opP50(ops.toSeq), "s"),
          ("throughput_per_s", ops.map(_.units).sum / ops.map(_.durS).sum, "1/s"))
      } else {
        listener.foreach(_.drain())
        val spans = tracer.all
        val splits = spans.map(s => s.id -> listener.get.split(
          tracer.epochMs(s.startNs), tracer.epochMs(s.endNs))).toMap
        val self = Tracer.selfTimes(spans)
        spans.foreach(s => println(Json.obj(Seq("span" -> Json.str(s.name),
          "tag" -> Json.str(s.tag), "trace" -> s.trace.toString,
          "id" -> s.id.toString, "parent" -> s.parent.toString,
          "dur_s" -> Json.num(s.durS), "self_s" -> Json.num(self(s.id)),
          "jobs_s" -> Json.num(splits(s.id).jobsS),
          "n_jobs" -> splits(s.id).nJobs.toString))))
        layerMetrics(wl, spans, splits, self, lat.toSeq, hits, misses)
      }
    listener.foreach(_.detach())
    heap.close()

    val (steal, loadBefore, loadAfter) = host.finish()
    val named = wl.named(ops.toSeq)
    println(Json.obj(Seq(
      "report" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> o.trace.toString, "cores" -> o.cores.toString,
      "heap_max_mb" -> o.heapMb.toString,
      "heap_peak_mb" -> Json.num(heap.peakMb),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "error_frac" -> Json.num(failed.toDouble / attempted),
      "timed_ops" -> ops.size.toString,
      "ops_by_kind" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.size.toString }),
      "op_seconds" -> Json.obj(ops.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.map(o => f"${o.durS}%.3f").mkString("[", ", ", "]") }),
      "setup_runs_s" -> setupTimes.map(Json.num).mkString("[", ", ", "]"),
      "meta_cache" -> Json.obj(Seq("hits" -> hits.toString,
        "misses" -> misses.toString, "bound" -> "8192")),
      "steal_pct_active" -> Json.num(steal),
      "loadavg_before" -> Json.num(loadBefore),
      "loadavg_after" -> Json.num(loadAfter),
      "named" -> Json.obj(named.map(n => n.name -> Json.obj(
        Seq("value" -> Json.num(n.value), "unit" -> Json.str(n.unit)) ++
          n.extra.map { case (k, v) => k -> v })))
    )))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    if (failed == 0) 0 else 3
  }

  /** Every per-layer metric; layers a workload does not call read 0. */
  private def layerMetrics(wl: Workload, spans: Seq[Span],
      splits: Map[Int, Split], self: Map[Int, Double], lat: Seq[OpRec],
      hits: Long, misses: Long): Seq[(String, Double, String)] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val byName = spans.groupBy(_.name)
    def of(n: String) = byName.getOrElse(n, Nil)
    val spanStats = SpanLayers.flatMap { l =>
      val ss = of(l)
      Seq(s"$l.jobs_s" -> mean(ss.map(s => splits(s.id).jobsS)),
        s"$l.gap_s" -> mean(ss.map(s => s.durS - splits(s.id).jobsS)),
        s"$l.n_jobs" -> mean(ss.map(s => splits(s.id).nJobs.toDouble)),
        s"$l.gc_s" -> mean(ss.map(_.gcS)),
        s"$l.task_wait_s" -> mean(ss.map(s => splits(s.id).taskWaitS)),
        s"$l.self_s" -> mean(ss.map(s => self(s.id))))
    }
    val durations = Seq("plans.precheck", "plans.raw", "plans.refined",
      "plans.curated", "catalog.append", "catalog.log_append",
      "catalog.update_where", "catalog.read", "catalog.delete_dv")
      .map(n => s"${n}_s" -> mean(of(n).map(_.durS)))
    val (traced, untraced) = lat.partition(_.traced)
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else Stats.median(traced.map(_.durS)) - Stats.median(untraced.map(_.durS))
    val values = (spanStats ++ durations ++ Seq(
      "catalog.meta_cache_hit_ratio" ->
        (if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)),
      "catalog.meta_cache_lookups" -> (hits + misses).toDouble,
      "trace.overhead_s" -> overhead)).toMap ++ wl.layerExtras(spans, splits) ++
      wl.coverage(spans).map { case (m, xs) => m -> (if (xs.isEmpty) 0.0 else xs.min) }
    PerLayer.map { case (n, u, _) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** A traced run fails when no operation was traced or when some
    * operation's layer spans cover less than `CoverageFloor` of it. */
  def coverageErrors(metric: String, shares: Seq[Double]): Seq[String] =
    if (shares.isEmpty) Seq(s"$metric: no traced operation")
    else if (shares.min < CoverageFloor)
      Seq(f"$metric ${shares.min}%.4f is below $CoverageFloor%.2f")
    else Nil
}
