package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body` with the session confs `kvs` set, the old values restored. */
  protected def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` writing 64 KB parquet row groups (`parquet.block.size`), so
    * a small file holds several groups. */
  protected def withSmallRowGroups[T](body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try body finally {
      if (old == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", old)
    }
  }

  /** `body`'s result, with what its Spark jobs ran: the jobs, their
    * shuffle-map tasks, and their tasks that read at least one row.
    * Jobs are told apart by a job group set around `body`. */
  protected def jobCounts[T](body: => T): (T, SparkTestBase.JobCounts) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler._
    val group = s"job-counts-${java.util.UUID.randomUUID}"
    def mine(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val shuffleTasks = new java.util.concurrent.atomic.AtomicInteger()
    val readingTasks = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) jobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          if (e.taskType == "ShuffleMapTask") shuffleTasks.incrementAndGet()
          if (e.taskMetrics != null && e.taskMetrics.inputMetrics.recordsRead > 0)
            readingTasks.incrementAndGet()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try body finally spark.sparkContext.clearJobGroup()
      // a job's task ends reach the listener before its job end
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.asScala.forall(ended.contains) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      (out, SparkTestBase.JobCounts(jobs.size, shuffleTasks.get, readingTasks.get))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkTestBase {
  case class JobCounts(jobs: Int, shuffleMapTasks: Int, readingTasks: Int)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local FS without the per-file chmod fork (see GraftLocalFileSystem),
      // counting metadata reads for the specs that watch a table
      .config("spark.hadoop.fs.file.impl",
        "graft.CountingLocalFileSystem")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
