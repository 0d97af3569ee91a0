package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Wall-clock attribution for a query: per-Spark-job durations with
  * call sites, plus the driver-side gap (time not covered by any job).
  * `runMain graft.Profile <sfDir> <query> [query ...]` — two passes per
  * query (cold, warm), breakdown printed for the warm pass.
  *
  * The UI is disabled in this sandbox, so this listener is the stand-in
  * for the guide's "open the Stages tab": it answers "is the time in
  * jobs (executor work) or between jobs (driver planning/metadata)?"
  * and names the code path that submitted each job.
  */
object Profile {
  private final case class JobRec(id: Int, callSite: String, desc: String,
      start: Long, var end: Long = -1L)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Harness.session(Harness.cpus)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // per-stage-name aggregation of task metrics: the sandbox's stand-in
    // for the UI's Stages tab (executor time, shuffle bytes, input bytes)
    final case class StageAgg(var tasks: Int = 0, var runMs: Long = 0L,
      var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var input: Long = 0L, var gcMs: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageNames.put(sc.stageInfo.stageId, sc.stageInfo.name)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val agg = stages.computeIfAbsent(te.stageId, _ => StageAgg())
          agg.synchronized {
            agg.tasks += 1
            agg.runMs += m.executorRunTime
            agg.shufRead += m.shuffleReadMetrics.totalBytesRead
            agg.shufWrite += m.shuffleWriteMetrics.bytesWritten
            agg.input += m.inputMetrics.bytesRead
            agg.gcMs += m.jvmGCTime
          }
        }
      }
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(js.jobId, JobRec(js.jobId, cs, d, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.end = je.time
      }
    })
    spark.range(100000).selectExpr("sum(id)").collect() // codegen warm
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      (1 to 2).foreach { pass =>
        jobs.clear(); stages.clear(); stageNames.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // post-query hygiene as in Bench
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        Scratch.drain()
        if (pass == 2) {
          println(f"\n===== $name  warm=$wall%.2f s  ($n rows) =====")
          import scala.jdk.CollectionConverters._
          val rs = jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start)
          // merge overlapping job intervals to compute covered time
          val merged = rs.map(r => (r.start, r.end)).sortBy(_._1)
            .foldLeft(List.empty[(Long, Long)]) {
              case (acc, (s, e)) => acc match {
                case (ps, pe) :: tl if s <= pe =>
                  (ps, math.max(pe, e)) :: tl
                case _ => (s, e) :: acc
              }
            }
          val covered = merged.map { case (s, e) => e - s }.sum / 1e3
          println(f"  jobs=${rs.size} covered=$covered%.2f s  " +
            f"driver-gap=${wall - covered}%.2f s")
          // top job groups by summed duration
          rs.groupBy(r => (r.callSite, r.desc)).toSeq
            .map { case ((cs, d), js) =>
              (js.map(j => j.end - j.start).sum / 1e3, js.size, cs, d) }
            .sortBy(-_._1).take(20)
            .foreach { case (t, cnt, cs, d) =>
              val label = if (d.nonEmpty && d != cs) s"$cs | $d" else cs
              println(f"  $t%7.3f s  x$cnt%-3d  $label")
            }
          // top stages by summed executor run time, grouped by stage name
          println("  -- stages by executor time --")
          stages.asScala.toSeq
            .map { case (id, a) =>
              (stageNames.asScala.getOrElse(id, s"stage $id"), a) }
            .groupBy(_._1)
            .map { case (nm, as) =>
              val t = as.map(_._2.runMs).sum / 1e3
              val tasks = as.map(_._2.tasks).sum
              val sr = as.map(_._2.shufRead).sum / 1e6
              val sw = as.map(_._2.shufWrite).sum / 1e6
              val in = as.map(_._2.input).sum / 1e6
              val gc = as.map(_._2.gcMs).sum / 1e3
              (t, tasks, as.size, sr, sw, in, gc, nm)
            }.toSeq.sortBy(-_._1).take(15)
            .foreach { case (t, tasks, n, sr, sw, in, gc, nm) =>
              println(f"  $t%8.2f s  stages=$n%-3d tasks=$tasks%-4d " +
                f"in=$in%7.1fMB sr=$sr%7.1fMB sw=$sw%7.1fMB gc=$gc%5.2f s  " +
                nm.take(110))
            }
        }
      }
    }
    spark.stop()
  }
}
