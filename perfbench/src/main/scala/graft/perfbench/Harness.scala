package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.{CompositeData, TabularData}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see `run.py`). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, cores: Int, heapMb: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--work"), get("--cores").toInt,
      get("--heap-mb").toInt)
  }
}

object Harness {

  /** One long-lived local driver with `graft.Bench`'s settings, pinned to
    * `cores` with shuffle partitions equal to the core count. Every
    * directory Spark writes to lives under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.util.GraftLocalFileSystem")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host sentinels: diagnostics that explain a bad run (a stolen or busy
  * host), never end-to-end metrics. Steal is reported as a share of
  * ACTIVE cpu time, as `graft.Bench` computes it. */
final class HostSentinel {
  private def jiffies(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().split("\\s+")
        // cpu user nice system idle iowait irq softirq steal
        Some(Array(f(1).toLong, f(2).toLong, f(3).toLong, f(8).toLong))
      } finally src.close()
    } catch { case _: Exception => None }

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  val loadBefore: Double = loadavg()
  private val before = jiffies()

  /** (steal_pct_active, loadavg_before, loadavg_after) since creation. */
  def finish(): (Double, Double, Double) = {
    val steal = (before, jiffies()) match {
      case (Some(b), Some(a)) =>
        val act = (0 to 3).map(i => a(i) - b(i)).sum
        if (act > 0) 100.0 * (a(3) - b(3)) / act else 0.0
      case _ => -1.0
    }
    (steal, loadBefore, loadavg())
  }
}

/** Largest heap in use just after a GC: every collection reports its
  * after-GC pool usage, and the harness reads the latest at operation
  * boundaries. A diagnostic on the report line: when the old generation
  * is next collected depends on timing, so the figure is not steady
  * enough to gate on. */
final class HeapSampler {
  @volatile private var lastAfterGc = 0L
  private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val gcInfo = n.getUserData.asInstanceOf[CompositeData]
          .get("gcInfo").asInstanceOf[CompositeData]
        lastAfterGc = gcInfo.get("memoryUsageAfterGc").asInstanceOf[TabularData]
          .values().asScala.collect {
            case row: CompositeData if heapPools(row.get("key").toString) =>
              row.get("value").asInstanceOf[CompositeData].get("used")
                .asInstanceOf[Long]
          }.sum
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def sample(): Unit = peak = math.max(peak, lastAfterGc)
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}

object HeapSampler {
  /** Total JVM GC time so far, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean over `kinds` of each kind's median latency. */
  def geoMeanOfMedians(ops: Seq[OpRec], kinds: Seq[String]): Double =
    math.exp(kinds.map(k => math.log(median(
      ops.filter(_.kind == k).map(_.durS)))).sum / kinds.size)

  /** The highest percentile that still leaves at least 10 samples above
    * it: (value, percentile, n). With 10 or fewer samples there is no
    * such percentile and the maximum is returned with percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.length
    if (n <= 10) (s.last, 100.0, n)
    else {
      val i = n - 11
      (s(i), 100.0 * (i + 1) / n, n)
    }
  }
}

/** Minimal JSON rendering for the result lines (no dependency). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
