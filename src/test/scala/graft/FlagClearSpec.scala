package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.catalog.TableCatalog

/** Copy-on-write flag clears planned from `_STATS`: the files a clear
  * may touch come from commit metadata, one candidate is rewritten
  * without a probe, several are probed in one job, and a clear that
  * matches nothing commits nothing. */
class FlagClearSpec extends SparkTestBase {
  import spark.implicits._

  /** Spark jobs started by `body` (the listener bus is asynchronous:
    * wait for it to go quiet before and after). */
  private def jobsOf(body: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Thread.sleep(500)
      started.set(0); ended.set(0)
      body
      var last = -1
      val deadline = System.currentTimeMillis() + 10000
      while ((started.get != last || ended.get != started.get) &&
          System.currentTimeMillis() < deadline) {
        last = started.get
        Thread.sleep(300)
      }
      started.get
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Five single-file appends: runs r1..r4 already consumed (flag 0),
    * r5 fresh (flag 1) — the shape a flag machine leaves behind. */
  private def fiveRuns(cat: TableCatalog, t: String): Unit =
    (1 to 5).foreach { i =>
      cat.append(t, Seq((i * 10 + 1, s"r$i", if (i == 5) 1 else 0),
        (i * 10 + 2, s"r$i", if (i == 5) 1 else 0)).toDF("k", "run", "flag")
        .coalesce(1))
    }

  private def cdcEntries(root: String, t: String): Set[String] = {
    val d = new java.io.File(s"$root/${t.replace('.', '/')}/_CDCLOG")
    Option(d.list()).map(_.toSet).getOrElse(Set.empty)
  }

  test("a clear whose stats isolate one file runs 2 jobs, rewrites only it, as the probe path would") {
    val t = "db.s.flags"
    val root = tempDir("fc")
    val cat = new TableCatalog(spark, root)
    fiveRuns(cat, t)
    val before = cat.dataFilePaths(t)
    assert(before.size == 5)
    val newest = before.filter(_.contains("v_000004"))
    assert(newest.size == 1)
    val jobs = jobsOf(cat.updateWhere(t, Map("flag" -> lit(0)),
      col("flag") === 1 && col("run").isin("r5")))
    assert(jobs == 2, s"a stats-planned single-file clear ran $jobs jobs")
    val after = cat.dataFilePaths(t)
    assert(after.size == 5 && (before.toSet -- after.toSet) == newest.toSet)

    // the same clear through the probe path: neither conjunct
    // translates to a source filter, so all five files are candidates
    val probedRoot = tempDir("fc")
    val probed = new TableCatalog(spark, probedRoot)
    fiveRuns(probed, t)
    val pJobs = jobsOf(probed.updateWhere(t, Map("flag" -> lit(0)),
      (col("flag") + 0) === 1 && concat(col("run"), lit("")) === "r5"))
    assert(pJobs == 3, s"a probed clear ran $pJobs jobs") // probe + 2 writes
    assert(probed.dataFilePaths(t).size == 5)

    def rows(c: TableCatalog) = c.read(t).as[(Int, String, Int)].collect().sorted.toSeq
    assert(rows(cat) == rows(probed))
    assert(rows(cat).forall(_._3 == 0))
    val v = cat.version(t).get
    assert(probed.version(t).contains(v))
    // the change feed's recorded rows (`_CDCLOG`) and the snapshot diff
    def changes(r: String) = spark.read.parquet(f"$r/db/s/flags/_CDCLOG/v_$v%06d")
      .select("k", "run", "flag", "_change_type")
      .as[(Int, String, Int, String)].collect().sorted.toSeq
    val want = Seq((51, "r5", 0, "insert"), (51, "r5", 1, "delete"),
      (52, "r5", 0, "insert"), (52, "r5", 1, "delete"))
    assert(changes(root) == want && changes(probedRoot) == want)
    def diff(c: TableCatalog) = c.readChanges(t, v - 1, v)
      .select("k", "run", "flag", "_change_type")
      .as[(Int, String, Int, String)].collect().sorted.toSeq
    assert(diff(cat) == want && diff(probed) == want)
  }

  test("a single-candidate update or delete matching no row commits nothing and leaves no staging") {
    val root = tempDir("fc")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.one"
    cat.append(t, Seq((1, "a"), (3, "b")).toDF("k", "v").coalesce(1))
    val v0 = cat.version(t).get
    val cdc0 = cdcEntries(root, t)
    // k = 2 lies inside the file's [1, 3] bounds: the file stays the
    // one candidate and is rewritten to staging, but no row matches
    val jobs = jobsOf(cat.updateWhere(t, Map("v" -> lit("z")), col("k") === 2))
    assert(jobs == 2)
    cat.deleteWhere(t, col("k") === 2)
    assert(cat.version(t).contains(v0))
    assert(cdcEntries(root, t) == cdc0)
    assert(!new java.io.File(s"$root/_staging").exists())
    assert(cat.read(t).as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (3, "b")))
    // a matching delete still lands, with its change rows
    cat.deleteWhere(t, col("k") === 3)
    assert(cat.version(t).contains(v0 + 1))
    assert(cat.read(t).as[(Int, String)].collect().toSeq == Seq((1, "a")))
    assert(spark.read.parquet(f"$root/db/s/one/_CDCLOG/v_${v0 + 1}%06d")
      .select("k", "_change_type").as[(Int, String)].collect().toSeq ==
      Seq((3, "delete")))
    assert(!new java.io.File(s"$root/_staging").exists())
  }

  test("a zero-row file is never a candidate, and an empty create keeps its schema") {
    val cat = new TableCatalog(spark, tempDir("fc"))
    val t = "db.s.empty"
    cat.append(t, Seq.empty[(Int, String, Int)].toDF("k", "run", "flag"))
    assert(cat.read(t).schema.fieldNames.toSeq == Seq("k", "run", "flag"))
    assert(cat.read(t).count() == 0L)
    val empty = cat.dataFilePaths(t)
    assert(empty.size == 1, "an all-empty write keeps one schema-carrying file")
    cat.append(t, Seq((1, "r1", 1), (2, "r1", 1)).toDF("k", "run", "flag").coalesce(1))
    // untranslatable: stats cannot rule the zero-row file out, only
    // its recorded row count does — so the clear needs no probe
    val jobs = jobsOf(cat.updateWhere(t, Map("flag" -> lit(0)), (col("flag") + 0) === 1))
    assert(jobs == 2)
    cat.deleteWhere(t, (col("k") + 0) === 2)
    assert(empty.forall(cat.dataFilePaths(t).contains), "the zero-row file was rewritten")
    assert(cat.read(t).as[(Int, String, Int)].collect().toSeq == Seq((1, "r1", 0)))
  }

  test("a write with rows commits no zero-row file; its footers seed the schema cache") {
    val cat = new TableCatalog(spark, tempDir("fc"))
    val t = "db.s.parts"
    cat.append(t, Seq((1, "a")).toDF("k", "v"))
    // four partitions, three of them empty: Spark writes partition 0
    // even when it holds no row
    val sparse = spark.range(0, 4, 1, 4).filter(col("id") === 3L)
      .select(col("id").cast("int").as("k"), lit("b").as("v"))
    val before = cat.dataFilePaths(t).toSet
    cat.append(t, sparse)
    val added = cat.dataFilePaths(t).filterNot(before)
    val misses = TableCatalog.metaCacheMisses.get
    added.foreach(cat.footerSchemaOf)
    assert(TableCatalog.metaCacheMisses.get == misses,
      "footerSchemaOf re-read a footer the commit had harvested")
    assert(added.size == 1 && spark.read.parquet(added.head).count() == 1L)
    assert(cat.read(t).as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (3, "b")))
  }
}
