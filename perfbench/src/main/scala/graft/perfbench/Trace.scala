package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span. Times are nanoTime; `trace` groups the spans of one
  * benchmark operation and `parent` is -1 for the operation's root. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
    tag: String, startNs: Long, endNs: Long, gcS: Double) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into the engine's layers, recorded from the
  * benchmark's side of those calls. Spans stay in memory until the run
  * ends. A disabled tracer (the untraced run) or a paused one (the
  * untraced half of a traced run) runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private var nextId = 0
  private var nextTrace = 0
  @volatile var paused = false

  // nanoTime → epoch ms, to line spans up with listener event times
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def active: Boolean = enabled && !paused

  /** Root span of one benchmark operation: starts a new trace id. */
  def op[T](name: String, tag: String = "")(body: => T): T =
    if (!active) body else record(name, tag, root = true)(body)

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!active || stack.get.isEmpty) body
    else record(name, tag, root = false)(body)

  private def record[T](name: String, tag: String, root: Boolean)(body: => T): T = {
    val (id, trace) = synchronized {
      nextId += 1
      if (root) nextTrace += 1
      (nextId, if (root) nextTrace else stack.get.head._2)
    }
    val parent = if (root) -1 else stack.get.head._1
    stack.set((id, trace) :: stack.get)
    val gc0 = HeapSampler.gcSeconds()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      val s = Span(id, parent, trace, name, tag, t0, t1,
        HeapSampler.gcSeconds() - gc0)
      synchronized(spans += s)
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  /** Span time minus the time its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Per root span named `root`: the share of its time covered by its
    * descendants named in `parts`. */
  def coverage(spans: Seq[Span], root: String, parts: Set[String]): Seq[Double] = {
    val byTrace = spans.groupBy(_.trace)
    spans.filter(r => r.parent < 0 && r.name == root).map { r =>
      union(byTrace(r.trace).filter(s => parts(s.name)).map(s =>
        (math.max(s.startNs, r.startNs), math.min(s.endNs, r.endNs)))) /
        (r.endNs - r.startNs).max(1L).toDouble
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union[N](iv: Seq[(N, N)])(implicit num: Numeric[N]): N = {
    import num._
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((zero, Option.empty[(N, N)])) {
        case ((acc, None), cur) => (acc, Some(cur))
        case ((acc, Some((s, e))), (a, b)) =>
          if (a <= e) (acc, Some((s, num.max(e, b))))
          else (acc + (e - s), Some((a, b)))
      } match {
        case (acc, Some((s, e))) => acc + (e - s)
        case (acc, None) => acc
      }
  }
}

/** What the Spark jobs started inside one span did: time covered by
  * jobs, how many, how long their tasks waited for a core, and the bytes
  * their tasks wrote to shuffle and read from input files. */
final case class Split(jobsS: Double, nJobs: Int, taskWaitS: Double,
    shuffleWriteBytes: Long, inputBytes: Long)

/** Benchmark-owned listener: records every job, stage and task so each
  * span can be split into Spark job time and driver time afterwards. */
final class JobListener(sc: SparkContext) extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, launch: Long, shuffleWrite: Long,
      inputRead: Long)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    tasks += Task(e.stageId, e.taskInfo.launchTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.inputMetrics.bytesRead)
  }

  sc.addSparkListener(this)

  /** Wait (bounded) until every started job has been seen to end: the
    * listener bus delivers events asynchronously. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(jobs.values.exists(_.end < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def detach(): Unit = sc.removeSparkListener(this)

  /** What the jobs inside [fromMs, toMs) did. */
  def split(fromMs: Double, toMs: Double): Split = synchronized {
    val lo = math.floor(fromMs).toLong
    val hi = math.ceil(toMs).toLong
    val started = jobs.values.filter(j => j.start >= lo && j.start < hi).toSeq
    val covered = Tracer.union(jobs.values.filter(_.end >= 0).toSeq.map(j =>
      (math.max(j.start, lo), math.min(j.end, hi))))
    val stageIds = started.flatMap(_.stages).toSet
    val byStage = tasks.filter(t => stageIds(t.stage)).groupBy(_.stage)
    // time from a stage's submission until its last task was launched:
    // how long that stage's work waited for a free core
    val wait = byStage.map { case (sid, ts) =>
      stageSubmit.get(sid).map(sub => math.max(0L, ts.map(_.launch).max - sub))
        .getOrElse(0L)
    }.sum
    Split(math.min(covered.toDouble, toMs - fromMs) / 1e3, started.size,
      wait / 1e3, byStage.values.flatten.map(_.shuffleWrite).sum,
      byStage.values.flatten.map(_.inputRead).sum)
  }
}
