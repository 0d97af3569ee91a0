package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog
import graft.connector.{GraftScanBuilder, GraftSlicesHolder}

/** One snapshot per (table, version): a scan plans and reads a single
  * version, warm planning reads no metadata file, and the memo never
  * outlives the version it describes. Small tables throughout. */
class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  /** Rows a planned batch yields, read through its own reader factory. */
  private def rowsRead(parts: Array[InputPartition],
      factory: org.apache.spark.sql.connector.read.PartitionReaderFactory): Long =
    parts.map { p =>
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        var n = 0L
        try while (r.next()) n += r.get().numRows() finally r.close()
        n
      } else {
        val r = factory.createReader(p)
        var n = 0L
        try while (r.next()) n += 1 finally r.close()
        n
      }
    }.sum

  test("an unpinned scan plans and reads one version across a concurrent commit") {
    val root = tempDir("torn")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.torn"
    cat.overwrite(t, spark.range(1, 1001)
      .select(col("id").as("k"), lit(1.0).as("x")).repartition(4))
    val schema = cat.snapshot(t, cat.version(t).get).schema
    val scan = new GraftScanBuilder(schema, root, t, versionOpt = None).build()
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
    scan.estimateStatistics() // the planner's first look at the table
    cat.updateWhereDV(t, Map("x" -> lit(0.0)), col("k") <= 100)
    assert(cat.count(t) == 1000)
    val batch = scan.toBatch
    assert(rowsRead(batch.planInputPartitions(), batch.createReaderFactory()) == 1000,
      "the scan must read the version it planned, not its files with the next one's DVs")
  }

  /** Slices a fresh plan of `df` schedules — planning only, nothing runs. */
  private def plannedSlices(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }.get
      .inputPartitions.map {
        case g: GraftSlicesHolder => g.slices.size
        case _ => 1
      }.sum

  test("warm re-planning of a pinned lookup lists and opens nothing under the table") {
    val root = tempDir("warm")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.warm"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[CountingLocalFileSystem], fs.getClass)
    def rows(lo: Long) = spark.range(lo, lo + 500)
      .select(col("id").as("k"), (col("id") % 7).as("g"))
    cat.overwrite(t, rows(0).repartition(2))
    cat.append(t, rows(500).repartition(2))
    cat.deleteWhereDV(t, col("k") === 3)
    cat.buildBloomIndex(t, "k")
    val v = cat.version(t).get
    def plan(): Int = plannedSlices(spark.read.format("graft")
      .option("root", root).option("table", t).option("version", v.toString)
      .load().filter(col("k") === 700))
    val tableDir = s"$root/d/s/warm"
    val (cold, coldOps) = CountingLocalFileSystem.watching(tableDir)(plan())
    val (warm, warmOps) = CountingLocalFileSystem.watching(tableDir)(plan())
    info(s"first plan after the commits: $coldOps; second plan: $warmOps")
    assert(cold == warm && warm >= 1)
    assert(warmOps.getOrElse("listStatus", 0L) == 0L, warmOps)
    assert(warmOps.getOrElse("open", 0L) == 0L, warmOps)
  }

  test("a table dropped and re-created at the same versions never reads the old snapshot") {
    val root = tempDir("stale")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.stale"
    cat.overwrite(t, Seq((1, "a"), (2, "b")).toDF("id", "s"))
    cat.append(t, Seq((3, "c")).toDF("id", "s"))
    // warm both versions' snapshots and the connector path
    (0 to 1).foreach { v =>
      val s = cat.snapshot(t, v)
      s.schema; s.files.foreach(_.rows); s.dvRows; s.constraints
    }
    assert(spark.read.format("graft").option("root", root).option("table", t)
      .option("version", "1").load().count() == 3)
    cat.drop(t)
    cat.overwritePartitioned(t,
      Seq(("p1", 10L, 1.5), ("p2", 20L, 2.5)).toDF("part", "n", "x"), Seq("part"))
    cat.append(t, Seq(("p1", 30L, 3.5)).toDF("part", "n", "x"))
    assert(cat.version(t).contains(1))
    val s = cat.snapshot(t, 1)
    assert(s.partitionColumns == Seq("part"))
    assert(s.schema.fieldNames.toSet == Set("part", "n", "x"))
    assert(s.files.size == 3)
    assert(cat.read(t).select("n").as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    assert(spark.read.format("graft").option("root", root).option("table", t)
      .option("version", "1").load().filter(col("part") === "p1")
      .select("n").as[Long].collect().sorted.toSeq == Seq(10L, 30L))
  }

  test("a bloom index built after the snapshot was warmed prunes the next lookup") {
    val root = tempDir("bloomwarm")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.bloomwarm"
    // four single-file commits whose key ranges all overlap: stats
    // cannot prune a point lookup, only blooms can
    (0 until 4).foreach { i =>
      val df = spark.range(0, 4000).filter(col("id") % 4 === i)
        .select(col("id").as("k")).coalesce(1)
      if (i == 0) cat.overwrite(t, df) else cat.append(t, df)
    }
    def lookup() = spark.read.format("graft").option("root", root)
      .option("table", t).load().filter(col("k") === 1001)
    val before = graft.connector.GraftPlanInspect.scanPartitions(lookup())
    assert(before == 4)
    cat.buildBloomIndex(t, "k")
    val probe = lookup()
    val after = graft.connector.GraftPlanInspect.scanPartitions(probe)
    assert(after < before, s"blooms built on a warm snapshot must prune ($after of $before)")
    assert(probe.as[Long].collect().toSeq == Seq(1001L))
  }
}
