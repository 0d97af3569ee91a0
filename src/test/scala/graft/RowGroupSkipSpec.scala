package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog
import graft.connector.GraftPlanInspect

/** ROW-GROUP-granular stats skipping (the round-10 consumer, proven):
  * pushed range predicates against the `_STATS` per-group `g:`/`gs:`
  * bounds schedule only the surviving byte windows inside a
  * multi-group file.
  *
  * Construction note: parquet-mr's InternalParquetRecordWriter checks
  * buffered size at a minimum cadence of 100 records; with ~720 B rows
  * and a 64 KB block size every check trips, so EVERY row group holds
  * exactly 100 records — which makes group boundaries land at exact
  * row indexes and lets these tests align a value gap to a boundary
  * (the all-groups-eliminated `Some(Nil)` path) deterministically. */
class RowGroupSkipSpec extends SparkTestBase {
  import spark.implicits._

  private def graftRead(root: String, fq: String): DataFrame =
    spark.read.format("graft").option("root", root).option("table", fq).load()

  /** Writes `df` as ONE physical file with 64 KB row groups. */
  private def writeSmallGroups(cat: TableCatalog, t: String,
      df: DataFrame, sortCol: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024)
    try cat.overwrite(t, df.repartition(1).sortWithinPartitions(sortCol))
    finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
  }

  private def paddedKeys(n: Long, remap: Long => Long): DataFrame =
    spark.range(1, n + 1)
      .select(col("id"), udf(remap).apply(col("id")).as("k"))
      .withColumn("pad", rpad(concat(lit("p"), col("id")), 700, "x"))
      .select("k", "pad")

  test("range predicate schedules fewer slice bytes than the blind " +
      "split; results exact") {
    val root = tempDir("rg_prune")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.RGP"
    writeSmallGroups(cat, t, paddedKeys(10000, identity), "k")
    assert(cat.dataFilePaths(t).size == 1)
    val rd = graftRead(root, t)
    val full = rd.agg(count(col("k")).as("n"), sum("k").as("s"))
    val rF = full.collect()(0)
    val fullBytes = GraftPlanInspect.scanSliceBytesOf(full)
    assert(rF.getLong(0) == 10000L && rF.getLong(1) == (1L to 10000L).sum)
    assert(fullBytes > 0, "blind scan bytes known")
    val pruned = rd.filter(col("k") <= 500)
      .agg(count(col("k")).as("n"), sum("k").as("s"))
    val rP = pruned.collect()(0)
    val prunedBytes = GraftPlanInspect.scanSliceBytesOf(pruned)
    assert(rP.getLong(0) == 500L, "no row lost at pruned-window seams")
    assert(rP.getLong(1) == (1L to 500L).sum)
    assert(prunedBytes > 0 && prunedBytes < fullBytes,
      s"pruned scan must schedule a strict byte subset " +
        s"($prunedBytes vs $fullBytes)")
    // the pruned read returns exactly the rows the unpruned read would
    val a = rd.filter(col("k") <= 500).select("k").collect().map(_.getLong(0))
    assert(a.sorted.toSeq == (1L to 500L))
  }

  test("all-groups-eliminated file schedules zero work (Some(Nil))") {
    val root = tempDir("rg_gap")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.RGGAP"
    // value gap aligned to the group boundary at row 5000: groups
    // below the seam bound <= 5000, groups above bound >= 10005001 —
    // a predicate inside (5000, 10005001) overlaps NO group while the
    // file's union bounds [1, 10010000] still overlap it
    writeSmallGroups(cat, t,
      paddedKeys(10000, i => if (i <= 5000) i else i + 10000000L), "k")
    val rd = graftRead(root, t)
    val gap = rd.filter(col("k") >= 100000L && col("k") <= 9000000L)
      .agg(count(col("k")).as("n"))
    assert(gap.collect()(0).getLong(0) == 0L)
    assert(GraftPlanInspect.scanPartitionsOf(gap) == 0,
      "an all-groups-eliminated file must schedule no slices")
    assert(GraftPlanInspect.scanSliceBytesOf(gap) == 0L)
    // sanity: the file itself was NOT file-level skipped for a
    // predicate overlapping its union bounds but not the gap — a
    // predicate hitting real values reads them
    val hit = rd.filter(col("k") >= 10000001L).agg(count(col("k")).as("n"))
    assert(hit.collect()(0).getLong(0) == 5000L)
  }

  test("stats-less group (multi-KB values, parquet omits chunk stats) " +
      "is kept bound-free, not silently dropped") {
    val root = tempDir("rg_nostat")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.RGNS"
    // single stats-eligible column: fixed-width sortable prefix; rows
    // 1001..4000 append a >4096 B suffix, so every group that starts
    // or ends inside that band has a multi-KB min or max and
    // parquet-mr OMITS its chunk statistics (min.length + max.length
    // >= 4096). Those groups must still parse (bound-free via the
    // per-group `__rows` marker) and be KEPT when pruning engages.
    val df = spark.range(1, 8001)
      .select(concat(
        format_string("k%05d", col("id")),
        when(col("id").between(1001, 4000), lit("X" * 5000))
          .otherwise(lit(""))).as("s"))
    writeSmallGroups(cat, t, df, "s")
    val rd = graftRead(root, t)
    val pruned = rd.filter(col("s") <= "k03000zzzz")
      .agg(count(col("s")).as("n"))
    val n = pruned.collect()(0).getLong(0)
    val prunedBytes = GraftPlanInspect.scanSliceBytesOf(pruned)
    assert(n == 3000L,
      "rows in stats-less groups must survive row-group pruning")
    val full = rd.agg(count(col("s")).as("n"))
    full.collect()
    val fullBytes = GraftPlanInspect.scanSliceBytesOf(full)
    assert(prunedBytes > 0 && prunedBytes < fullBytes,
      s"pruning still engages on the stats-bearing tail " +
        s"($prunedBytes vs $fullBytes)")
  }

  test("legacy marker-less _STATS plan blind (no silent pruning)") {
    val root = tempDir("rg_legacy")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.RGLEG"
    writeSmallGroups(cat, t, paddedKeys(10000, identity), "k")
    // strip the per-group `__rows` marker lines: exactly the _STATS
    // shape a pre-round-11 harvest wrote, where a stats-less block was
    // simply absent from the map
    val stats = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => p.getFileName.toString == "_STATS").findFirst().get()
    val kept = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(stats)).asScala
      .filterNot(_.contains(":__rows\t"))
    java.nio.file.Files.write(stats,
      kept.mkString("\n").getBytes("UTF-8"))
    // drop the local-FS checksum sidecar the out-of-band rewrite broke
    java.nio.file.Files.deleteIfExists(
      stats.getParent.resolve("._STATS.crc"))
    val rd = graftRead(root, t)
    val full = rd.agg(count(col("k")).as("n"))
    full.collect()
    val fullBytes = GraftPlanInspect.scanSliceBytesOf(full)
    val pruned = rd.filter(col("k") <= 500)
      .agg(count(col("k")).as("n"), sum("k").as("s"))
    val rP = pruned.collect()(0)
    assert(rP.getLong(0) == 500L && rP.getLong(1) == (1L to 500L).sum)
    assert(GraftPlanInspect.scanSliceBytesOf(pruned) == fullBytes,
      "marker-less stats must refuse to prune (plan blind)")
  }

  test("byte splits cut only at row-group starts: a maxPartitionBytes=1 " +
      "scan plans no more tasks than the table has row groups") {
    val root = tempDir("rg_split")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.RGSPLIT"
    // one multi-group file, then three single-group appends
    writeSmallGroups(cat, t, paddedKeys(1000, identity), "k")
    (0 until 3).foreach(i => cat.append(t,
      paddedKeys(20, _ + 1000L + 20L * i).coalesce(1)))
    val hc = spark.sparkContext.hadoopConfiguration
    val groups = cat.dataFilePaths(t).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(p), hc)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rd.getRowGroups.size finally rd.close()
    }
    assert(groups.size == 4 && groups.max > 1, s"row groups per file: $groups")
    val old = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes").map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val q = graftRead(root, t).agg(count(col("k")).as("n"), sum("k").as("s"))
      val r = q.collect()(0)
      assert(r.getLong(0) == 1060L && r.getLong(1) == (1L to 1060L).sum)
      val tasks = GraftPlanInspect.scanTasksOf(q)
      assert(tasks > 1 && tasks <= groups.sum,
        s"$tasks scan tasks for ${groups.sum} row groups")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
