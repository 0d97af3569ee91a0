package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    // Warm-up: run every query once at the smallest SF so whole-stage
    // codegen (janino) compiles each plan before timing — the timed
    // sf run then measures execution, not compilation. Falls back to
    // generic warm-up when no smaller SF is available.
    // Optional dev-only subset filter (comma-separated names); the
    // driver sets no filter and always benches the full registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Post-query hygiene: drop persistent RDD blocks a query leaves
    // behind (localCheckpoint lineage cuts in the iterative operators,
    // caches) — 240+ queries share one JVM, and accumulated residue
    // taxes LATER queries' memory/GC (observed: an iterative query
    // 10x slower late in a full run, normal in isolation). Timings
    // must measure the query, not its predecessors' leftovers.
    def releaseResidue(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // Scratch tables of FINISHED queries tax the OS page cache for
      // the rest of the run (3 passes × ~60 materializing queries);
      // drain them at the same boundary. Runs outside the timed window.
      Scratch.drain()
    }
    val warmDir = "/root/testdata/sf0.001"
    spark.range(100000).selectExpr("sum(id)").collect()
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        releaseResidue()
      }
    else spark.read.parquet(s"$sfDir/region.parquet").count()
    // Two timed runs per query, report the min: the first timed run at
    // the target SF still pays one-off costs (row-group footer reads,
    // AQE stage re-plans, JIT tiering); the min is the steady-state
    // per-query execution time the cluster would see.
    val loadBefore = loadavg()
    val stealBefore = cpuJiffies()
    // A query that throws must be VISIBLE in the artifact, not a silent
    // wall-clock entry (same contract as Verify's _failed.json): track
    // per-query failures and emit them in the JSON.
    val errored = scala.collection.mutable.LinkedHashSet[String]()
    // (time, succeeded) per run: a query that throws on only ONE of its
    // two runs is excluded from `queries`/`total` (its timings are not
    // steady-state) but its surviving run is reported under
    // `partial_queries` so round-over-round totals can be reconciled.
    // Dev-only attribution aid (SPARK_GRAFT_DIAG=1): per timed run, the
    // wall clock, run-start offset, and the GC time the JVM charged to
    // that window — printed to STDERR so the stdout JSON contract is
    // untouched. Lets a reader pin a roving slow run on a GC pause (or
    // rule GC out) without re-running under a profiler.
    val diag = sys.env.get("SPARK_GRAFT_DIAG").contains("1")
    val benchT0 = System.nanoTime()
    if (diag) System.err.println(
      s"[diag] benchT0_epoch_ms=${System.currentTimeMillis()}")
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime.max(0L)).sum
    }
    val results = selected.map { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val gc0 = if (diag) gcMs() else 0L
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => errored += name; false }
        val dt = (System.nanoTime() - t0) / 1e9
        if (diag) System.err.println(
          f"[diag] $name at=${(t0 - benchT0) / 1e9}%.1f wall=$dt%.3f gc_ms=${gcMs() - gc0}")
        releaseResidue() // outside the timed window
        (dt, ok)
      }
      name -> times
    }
    val loadAfter = loadavg()
    // Hypervisor-steal sentinel: on a shared host, vCPU time stolen by
    // other tenants inflates wall clocks with the guest looking IDLE
    // (gc_ms=0, no PSI, no loadavg signal — observed as roving
    // multi-second per-query stalls with /proc/stat steal at 15-90% of
    // active time in 1 Hz samples). Report steal over the timed phase
    // as a fraction of ACTIVE cpu time (steal/(user+nice+sys+steal)):
    // the global fraction dilutes 16x when only 2 of 32 vCPUs are busy.
    val stealAfter = cpuJiffies()
    val stealPctActive = (stealBefore, stealAfter) match {
      case (Some(b), Some(a)) =>
        val act = (a.user - b.user) + (a.nice - b.nice) +
          (a.sys - b.sys) + (a.steal - b.steal)
        if (act > 0) 100.0 * (a.steal - b.steal) / act else 0.0
      case _ => -1.0
    }
    // Errored queries are reported ONLY in the errors array: their
    // near-zero wall clocks would otherwise read as a speedup in
    // `total`/`queries`, and a throw-then-succeed flake would inflate
    // run_spread past the contamination threshold on a quiet box.
    val clean = results.filterNot { case (k, _) => errored.contains(k) }
      .map { case (k, ts) => k -> ts.map(_._1) }
    val partials = results
      .filter { case (k, ts) => errored.contains(k) && ts.exists(_._2) }
      .map { case (k, ts) => k -> ts.filter(_._2).map(_._1).min }
    val mins = clean.map { case (k, ts) => k -> ts.min }
    val qs = mins.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query slowest run: lets a reader localize WHICH query's runs
    // diverged when run_spread is abnormal
    val qsMax = clean.map { case (k, ts) => s"\"" + k + "\":" + ts.max }
      .mkString("{", ",", "}")
    val qsPartial = partials.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (mins.nonEmpty) mins.map(_._2).sum else 0.0
    // Contamination sentinels: this bench is only meaningful run ALONE
    // on the box (local[cpus] assumes every core). A concurrent JVM
    // shows up as (a) 1-min loadavg far above `cpus` and (b) a large
    // spread between the two timed runs of the same query (min-of-2
    // does not recover from sustained oversubscription). run_spread =
    // Σ max / Σ min across queries; > ~1.5 on a quiet box is abnormal.
    val sumMax = clean.map(_._2.max).sum
    val spread = if (total > 0) sumMax / total else 1.0
    // Self-label contaminated runs so the artifact carries its own
    // health verdict: a loadavg already above cpus/4 before the first
    // timed query, or a min-vs-max spread > 1.5 across runs, means some
    // other workload shared the box and the numbers are not comparable
    // round-over-round (r4's driver bench showed 4.61/1.43 and every
    // apparent regression evaporated on a quiet re-run).
    // Steal above ~10% of active time means another TENANT of the
    // hypervisor taxed this run's cpu — same verdict as a concurrent
    // JVM, detected at the layer loadavg/spread cannot see.
    val contaminated =
      (loadBefore >= 0 && loadBefore > cpus.toDouble / 4) || spread > 1.5 ||
        stealPctActive > 10.0
    val errs = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_max":$qsMax,"partial_queries":$qsPartial,"sf":"$sfDir","loadavg_before":$loadBefore,"loadavg_after":$loadAfter,"cpus":$cpus,"run_spread":${f"$spread%.3f"},"steal_pct_active":${f"$stealPctActive%.2f"},"contaminated":$contaminated,"errors":$errs}""")
    // The driver's artifact capture keeps only a ~2 KB TAIL of stdout,
    // which truncated the single big line above in past rounds (the
    // totals were the first bytes lost). Emit a compact self-contained
    // summary as the LAST line so tail capture always retains the
    // headline numbers without a judge-side re-run.
    val slowest = mins.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${mins.size},"n_errors":${errored.size},"sf":"$sfDir","run_spread":${f"$spread%.3f"},"steal_pct_active":${f"$stealPctActive%.2f"},"contaminated":$contaminated,"slowest10":$slowest,"errors":$errs}""")
    spark.stop()
  }

  /** 1-minute load average from /proc/loadavg (-1.0 if unreadable). */
  private def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  private final case class Jiffies(user: Long, nice: Long, sys: Long,
      steal: Long)

  /** Aggregate cpu line of /proc/stat (None if unreadable). */
  private def cpuJiffies(): Option[Jiffies] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().split("\\s+")
        // cpu user nice system idle iowait irq softirq steal ...
        Some(Jiffies(f(1).toLong, f(2).toLong, f(3).toLong, f(8).toLong))
      } finally src.close()
    } catch { case _: Exception => None }
}
