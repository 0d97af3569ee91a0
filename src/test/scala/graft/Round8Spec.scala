package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** Round-8 hardening and engine-surface growth: timestamp partition
  * columns, empty-input DSv2 commits, content-versioned bloom
  * sidecars, streaming admission control, OCC rebase for commuting
  * commits, DV-aware columnar reads, scan partition sizing, O(1)-plan
  * partitioned reads, target file size on write, CDF surfaces, and
  * SQL schema evolution. */
class Round8Spec extends SparkTestBase {
  import spark.implicits._

  private def graftRead(root: String, fq: String): DataFrame =
    spark.read.format("graft").option("root", root).option("table", fq).load()

  // ---- ADVICE nits ---------------------------------------------------------

  test("timestamp partition columns read back typed through the connector") {
    val root = tempDir("r8_tspart")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.TSPART"
    val df = Seq(
      (1L, "2024-03-01 10:30:00", "a"),
      (2L, "2024-03-01 10:30:00", "b"),
      (3L, "2024-06-15 23:59:59", "c"))
      .toDF("id", "ts_s", "payload")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    cat.overwritePartitioned(t, df, Seq("ts"))
    // catalog path (partition discovery)
    val viaCat = cat.read(t)
    assert(viaCat.count() == 3)
    // connector path: castValue must type the path-encoded timestamp
    val rd = graftRead(root, t)
    assert(rd.schema("ts").dataType.typeName == "timestamp")
    val rows = rd.select("id", "ts").orderBy("id")
      .as[(Long, java.sql.Timestamp)].collect()
    assert(rows(0)._2 == java.sql.Timestamp.valueOf("2024-03-01 10:30:00"))
    assert(rows(2)._2 == java.sql.Timestamp.valueOf("2024-06-15 23:59:59"))
    // partition pruning on the timestamp column stays exact
    val pruned = rd.filter(col("ts") ===
      java.sql.Timestamp.valueOf("2024-06-15 23:59:59"))
    assert(pruned.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("DSv2 partitioned write round-trips a timestamp partition column") {
    val root = tempDir("r8_tsdsv2")
    val t = "D.S.TSDSV2"
    val df = Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-02-02 12:00:00"))
      .toDF("id", "ts_s").withColumn("ts", col("ts_s").cast("timestamp"))
      .drop("ts_s")
    df.write.format("graft").option("root", root).option("table", t)
      .option("partitions", "ts").mode("overwrite").save()
    val back = graftRead(root, t)
    assert(back.schema("ts").dataType.typeName == "timestamp")
    assert(back.select("ts").as[java.sql.Timestamp].collect().toSet ==
      Set(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-02-02 12:00:00")))
  }

  test("empty DSv2 append commits a version carrying the chain") {
    val root = tempDir("r8_emptyappend")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.EMPTYAPP"
    cat.overwrite(t, (1L to 10L).toDF("k"))
    val v0 = cat.version(t).get
    (1L to 0L).toDF("k") // zero rows
      .write.format("graft").option("root", root).option("table", t)
      .mode("append").save()
    assert(cat.version(t).get == v0 + 1, "empty append must still commit")
    assert(cat.read(t).count() == 10)
  }

  test("empty DSv2 overwrite and CTAS-shaped create land schema-only v0") {
    val root = tempDir("r8_emptyover")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.EMPTYOVER"
    cat.overwrite(t, (1L to 10L).toDF("k"))
    (1L to 0L).toDF("k")
      .write.format("graft").option("root", root).option("table", t)
      .mode("overwrite").save()
    assert(cat.read(t).count() == 0)
    assert(cat.read(t).schema.fieldNames.toSeq == Seq("k"))
    // brand-new table from empty input (empty CTAS shape)
    val t2 = "D.S.EMPTYNEW"
    Seq.empty[(Long, String)].toDF("id", "name")
      .write.format("graft").option("root", root).option("table", t2)
      .mode("append").save()
    assert(cat.read(t2).count() == 0)
    assert(cat.read(t2).schema.fieldNames.toSeq == Seq("id", "name"))
    // empty overwrite of a PARTITIONED table is now expressible
    val t3 = "D.S.EMPTYPART"
    cat.overwritePartitioned(t3,
      Seq((1L, "x")).toDF("id", "p"), Seq("p"))
    Seq.empty[(Long, String)].toDF("id", "p")
      .write.format("graft").option("root", root).option("table", t3)
      .option("partitions", "p").mode("overwrite").save()
    assert(cat.read(t3).count() == 0)
    assert(cat.read(t3).schema.fieldNames.toSet == Set("id", "p"))
  }

  test("bloom rebuild lands a fresh sidecar generation (cache-safe)") {
    val root = tempDir("r8_bloomgen")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.BLOOMGEN"
    cat.overwrite(t, (1L to 1000L).map(i => (i, s"u$i")).toDF("k", "u")
      .repartition(2))
    assert(cat.buildBloomIndex(t, "k") > 0)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bloomNames: Seq[String] = {
      val it = fs.listFiles(new Path(root), true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val n = it.next().getPath.getName
        if (n.startsWith("_BLOOMS")) buf += n
      }
      buf.toSeq
    }
    val gen1 = bloomNames
    assert(gen1.nonEmpty && gen1.forall(_.matches("_BLOOMS\\.\\d+")))
    // a second column rebuild REWRITES the sidecar of the same version
    // dir: must land at a NEW name so the (path,mtime,len) parse cache
    // can never serve the old bits
    assert(cat.buildBloomIndex(t, "u") > 0)
    val gen2 = bloomNames
    assert(gen2.nonEmpty && gen2.intersect(gen1).isEmpty,
      s"expected a fresh bloom generation, got $gen2 vs $gen1")
    // both columns probe correctly through the new generation
    assert(cat.readPoint(t, "k", 512L).count() == 1)
    assert(cat.readPoint(t, "u", "u717").count() == 1)
  }

  // ---- streaming admission control ----------------------------------------

  test("maxFilesPerTrigger drains a 6-commit backlog in bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r8_admit")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.ADMIT"
    (0 until 6).foreach { i =>
      val df = ((i * 100L + 1) to (i * 100L + 100)).toDF("k").coalesce(1)
      if (i == 0) cat.overwrite(t, df) else cat.append(t, df)
    }
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", t)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()); ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = { val b = Seq.newBuilder[Long]
      val it = sizes.iterator(); while (it.hasNext) b += it.next(); b.result() }
    val nonEmpty = got.filter(_ > 0)
    assert(nonEmpty.size >= 3,
      s"expected >= 3 bounded batches over 6 single-file commits, got $got")
    assert(nonEmpty.sum == 600, s"exactly-once total, got $got")
    assert(nonEmpty.forall(_ <= 200),
      s"each batch capped at 2 files = 200 rows, got $got")
  }

  test("maxBytesPerTrigger caps per-batch bytes at commit granularity") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r8_admitbytes")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.ADMITB"
    (0 until 4).foreach { i =>
      val df = ((i * 100L + 1) to (i * 100L + 100)).toDF("k").coalesce(1)
      if (i == 0) cat.overwrite(t, df) else cat.append(t, df)
    }
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", t)
      .option("maxBytesPerTrigger", "1").load() // smaller than any file:
      // oversized-first-commit rule ships exactly one commit per batch
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()); ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = { val b = Seq.newBuilder[Long]
      val it = sizes.iterator(); while (it.hasNext) b += it.next(); b.result() }
    val nonEmpty = got.filter(_ > 0)
    assert(nonEmpty.size == 4, s"one commit per batch expected, got $got")
    assert(nonEmpty.sum == 400)
  }

  test("uncapped stream still plans the whole backlog as one batch") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r8_uncapped")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.UNCAP"
    (0 until 3).foreach { i =>
      val df = ((i * 10L + 1) to (i * 10L + 10)).toDF("k").coalesce(1)
      if (i == 0) cat.overwrite(t, df) else cat.append(t, df)
    }
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", t).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()); ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = { val b = Seq.newBuilder[Long]
      val it = sizes.iterator(); while (it.hasNext) b += it.next(); b.result() }
    assert(got.filter(_ > 0) == Seq(30L))
  }

  // ---- scan partition sizing (split bigs, coalesce smalls) ----------------

  test("an oversized file splits into multiple scan tasks, rows exact") {
    val root = tempDir("r8_split")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.SPLIT"
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 64 * 1024) // many small row groups
    try {
      val df = (1L to 120000L).map(i => (i, s"padding_$i$i$i")).toDF("k", "pad")
      cat.overwrite(t, df.coalesce(1)) // ONE physical file
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
    }
    assert(cat.dataFilePaths(t).size == 1)
    withConf("spark.sql.files.maxPartitionBytes" -> "262144",
        "spark.sql.files.openCostInBytes" -> "16") {
      val rd = graftRead(root, t)
      val agg = rd.agg(count(lit(1)).as("n"), sum("k").as("s"))
      val r = agg.collect()(0)
      assert(graft.connector.GraftPlanInspect.scanTasksOf(agg) > 1,
        "one oversized file must split into multiple tasks")
      assert(r.getLong(0) == 120000L, "no row lost or doubled at split seams")
      assert(r.getLong(1) == (1L to 120000L).sum)
    }
  }

  test("many tiny files coalesce into few scan tasks") {
    val root = tempDir("r8_pack")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.PACK"
    cat.overwrite(t, (1L to 2000L).toDF("k").repartition(20)) // 20 tiny files
    assert(cat.dataFilePaths(t).size == 20)
    withConf("spark.sql.files.openCostInBytes" -> "16") {
      val rd = graftRead(root, t)
      val agg = rd.agg(count(lit(1)).as("n"), sum("k").as("s"))
      val r = agg.collect()(0)
      val tasks = graft.connector.GraftPlanInspect.scanTasksOf(agg)
      val slices = graft.connector.GraftPlanInspect.scanPartitionsOf(agg)
      assert(slices == 20, "every file still scheduled (as slices)")
      assert(tasks < 20, s"tiny files must bin-pack, got $tasks tasks")
      assert(r.getLong(0) == 2000L && r.getLong(1) == (1L to 2000L).sum)
    }
  }

  test("DV'd files stay columnar AND pack; masked values exact") {
    val root = tempDir("r8_dvcol")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.DVCOL"
    cat.overwrite(t, (1L to 10000L).map(i => (i, i * 2.5, s"v$i"))
      .toDF("k", "x", "s").repartition(12))
    cat.deleteWhereDV(t, col("k") % 7 === 0)
    withConf("spark.sql.files.openCostInBytes" -> "16") {
      val rd = graftRead(root, t)
      val agg = rd.agg(count(lit(1)).as("n"), sum("k").as("sk"),
        sum("x").as("sx"))
      val r = agg.collect()(0)
      assert(agg.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "DV'd scan must stay on the vectorized path")
      val tasks = graft.connector.GraftPlanInspect.scanTasksOf(agg)
      assert(tasks < 12, "DV'd files still bin-pack")
      val live = (1L to 10000L).filterNot(_ % 7 == 0)
      assert(r.getLong(0) == live.size.toLong)
      assert(r.getLong(1) == live.sum)
      assert(math.abs(r.getDouble(2) - live.map(_ * 2.5).sum) < 1e-6)
      // string + per-row reads through the masked wrapper stay exact
      assert(rd.filter(col("k") === 7L).count() == 0)
      assert(rd.filter(col("k") === 8L).select("s").as[String].head() == "v8")
    }
  }

  // ---- O(1)-plan partitioned catalog reads ---------------------------------

  test("partitioned catalog read plans ONE scan node regardless of chain length") {
    val root = tempDir("r8_o1plan")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.O1PLAN"
    cat.overwritePartitioned(t, Seq((1L, "a")).toDF("k", "p"), Seq("p"))
    (2 to 20).foreach { i => // 20-commit chain
      cat.append(t, Seq((i.toLong, if (i % 2 == 0) "a" else "b")).toDF("k", "p"))
    }
    def scanNodes(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan).count {
        case _: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => true
        case _: org.apache.spark.sql.execution.FileSourceScanExec => true
        case _ => false
      }
    }
    val df = cat.read(t)
    assert(scanNodes(df) == 1,
      "20-commit partitioned chain must plan exactly one scan node")
    assert(df.count() == 20)
    assert(cat.read(t).filter(col("p") === "a").count() == 11)
    // DV masks keep the single-scan shape (applied inside the reader)
    cat.deleteWhereDV(t, col("k") % 4 === 0)
    val masked = cat.read(t)
    assert(scanNodes(masked) == 1)
    assert(masked.count() == 20 - 5)
    // time travel through the connector keeps history exact
    // (v18 = the overwrite + 18 appends = 19 rows)
    assert(cat.readVersion(t, 18).count() == 19)
  }

  // ---- partitioned streaming sink -----------------------------------------

  test("streaming sink writes hive-partitioned tables, exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r8_psink")
    val t = "D.S.PSINK"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = ms.toDF().toDF("k", "p").writeStream.format("graft")
        .option("root", root).option("table", t)
        .option("partitions", "p")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); ()
    }
    ms.addData((1L, "a"), (2L, "b"), (3L, "a"))
    drain()
    val cat = new TableCatalog(spark, root)
    assert(cat.read(t).count() == 3)
    // hive layout on disk, partition column path-encoded
    val files = cat.dataFilePaths(t)
    assert(files.nonEmpty && files.forall(_.contains("/p=")))
    // second epoch appends into the same layout, carrying the chain
    ms.addData((4L, "b"), (5L, "c"))
    drain()
    assert(cat.read(t).count() == 5)
    assert(cat.read(t).filter(col("p") === "a").count() == 2)
    // partition pruning bites on the streamed layout
    val pruned = cat.read(t).filter(col("p") === "c")
    assert(pruned.collect().map(_.getAs[Long]("k")).toSeq == Seq(5L))
    assert(graft.connector.GraftPlanInspect.scanPartitionsOf(pruned) <
      files.size)
    // epoch replay is idempotent (the crash-between-commit-and-ack case)
    val epochs = cat.committedEpochs(t)
    assert(epochs.nonEmpty)
  }

  // ---- storage-partitioned joins ------------------------------------------

  test("co-partitioned graft tables join with zero exchange (SPJ)") {
    val root = tempDir("r8_spj")
    val cat = new TableCatalog(spark, root)
    val fact = (1L to 4000L).map(i => (i, (i % 8).toInt, i * 1.5))
      .toDF("k", "p", "x")
    val dim = (0 until 8).map(i => (i, s"name_$i")).toDF("p", "pname")
    cat.overwritePartitioned("D.S.SPJF", fact.repartition(col("p")), Seq("p"))
    cat.overwritePartitioned("D.S.SPJD", dim.repartition(col("p")), Seq("p"))
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = graftRead(root, "D.S.SPJF")
      val b = graftRead(root, "D.S.SPJD")
      val j = a.join(b, "p")
      val rows = j.collect()
      assert(rows.length == 4000)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "co-partitioned join must plan without shuffle or broadcast:\n" +
          j.queryExecution.executedPlan.toString)
      // genuinely KEY-GROUPED, not one-big-partition-satisfies-all:
      // one join partition per partition value
      assert(j.rdd.getNumPartitions == 8,
        s"expected 8 key-grouped partitions, got ${j.rdd.getNumPartitions}")
      // values exact through the keyed partitions
      val sums = j.groupBy("pname").agg(sum("k").as("s"))
        .as[(String, Long)].collect().toMap
      val expect = (1L to 4000L).groupBy(i => s"name_${i % 8}")
        .view.mapValues(_.sum).toMap
      assert(sums == expect)
    }
    // without the grouping opt-in (and packing defeated so each side
    // really has many partitions), the same join shuffles — SPJ was
    // the difference
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.files.maxPartitionBytes" -> "1",
        "spark.sql.files.openCostInBytes" -> "0") {
      val j2 = graftRead(root, "D.S.SPJF").join(graftRead(root, "D.S.SPJD"), "p")
      j2.collect()
      assert(!graft.connector.GraftPlanInspect.joinExchangeFree(j2))
    }
  }

  test("SPJ skew: hot key chunks under partially-clustered distribution") {
    val root = tempDir("r8_spjskew")
    val cat = new TableCatalog(spark, root)
    // key 0 is HOT: ~32× the rows of the others, spread over many files
    val fact = (1L to 40000L).map { i =>
      val p = if (i % 10 < 8) 0 else (i % 10).toInt - 7
      (i, p, i * 1.5)
    }.toDF("k", "p", "x")
    val dim = (0 until 3).map(i => (i, s"name_$i")).toDF("p", "pname")
    cat.overwritePartitioned("D.S.SKF",
      fact.repartition(col("p"), pmod(col("k"), lit(16))), Seq("p"))
    cat.overwritePartitioned("D.S.SKD", dim.repartition(col("p")), Seq("p"))
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        // force a tiny chunk target so the hot key splits at test scale
        "spark.sql.files.maxPartitionBytes" -> "16384",
        "spark.sql.files.openCostInBytes" -> "0") {
      val j = graftRead(root, "D.S.SKF").join(graftRead(root, "D.S.SKD"), "p")
      val rows = j.collect()
      assert(rows.length == 40000)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "skewed co-partitioned join must stay exchange-free:\n" +
          j.queryExecution.executedPlan.toString)
      // the hot key's chunks were NOT grouped back into one task
      assert(j.rdd.getNumPartitions > 3,
        s"expected >3 join partitions (hot key split), got " +
          s"${j.rdd.getNumPartitions}")
      // exact values through replicated-dim/split-fact partitions
      val sums = j.groupBy("pname").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      val expect = (1L to 40000L).groupBy { i =>
        val p = if (i % 10 < 8) 0 else (i % 10).toInt - 7; s"name_$p"
      }.view.mapValues(_.size.toLong).toMap
      assert(sums == expect)
    }
  }

  test("bucketed tables: SPJ on the bucket transform at any key cardinality") {
    val root = tempDir("r8_bucket")
    val cat = new TableCatalog(spark, root)
    // high-cardinality join key: identity partitioning would need 2000
    // dirs; bucket(8, k) needs 8
    val fact = (1L to 2000L).map(i => (i, i * 1.5)).toDF("k", "x")
    val dim = (1L to 2000L by 4).map(i => (i, s"d_$i")).toDF("dk", "dname")
    cat.overwriteBucketed("d.s.bf", fact, "k", 8)
    cat.overwriteBucketed("d.s.bd", dim, "dk", 8)
    // the synthetic routing column is a layout detail, not a column
    assert(!cat.read("d.s.bf").columns.contains("gbucket"))
    spark.conf.set("spark.sql.catalog.gc_bkt", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_bkt.root", root)
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        """SELECT k, x, dname FROM gc_bkt.d.s.bf JOIN gc_bkt.d.s.bd
           ON k = dk""")
      val rows = j.collect()
      assert(rows.length == 500)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "bucket-co-partitioned join must plan without exchange:\n" +
          j.queryExecution.executedPlan.toString)
      assert(j.rdd.getNumPartitions == 8)
      // appends route by the SAME hash — co-location survives growth
      cat.appendBucketed("d.s.bf", Seq((2001L, 9.0)).toDF("k", "x"))
      cat.appendBucketed("d.s.bd", Seq((2001L, "d_2001")).toDF("dk", "dname"))
      val j2 = spark.sql(
        """SELECT k, x, dname FROM gc_bkt.d.s.bf JOIN gc_bkt.d.s.bd
           ON k = dk""")
      assert(j2.collect().length == 501)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j2))
      // mixed bucket counts must NOT silently co-locate
      cat.overwriteBucketed("d.s.bd16", dim, "dk", 16)
      val j3 = spark.sql(
        """SELECT k, x, dname FROM gc_bkt.d.s.bf JOIN gc_bkt.d.s.bd16
           ON k = dk""")
      assert(j3.collect().length == 500)
      assert(!graft.connector.GraftPlanInspect.joinExchangeFree(j3))
    }
    // plain append without the routing column fails loudly, keeping
    // the layout honest
    intercept[Exception] {
      cat.append("d.s.bf", Seq((3000L, 1.0)).toDF("k", "x"))
    }
  }

  test("bucketed tables: change feed and streaming reads hide the routing column") {
    val root = tempDir("r8_bktcdf")
    val cat = new TableCatalog(spark, root)
    cat.overwriteBucketed("d.s.bc",
      (1L to 300L).map(i => (i, i * 1.0)).toDF("k", "x"), "k", 4)
    cat.appendBucketed("d.s.bc", Seq((301L, 9.0)).toDF("k", "x"))
    cat.deleteWhereDV("d.s.bc", col("k") % 50 === 0)
    // batch change feed reconstructs the live table, no gbucket leak
    val cdf = spark.read.format("graft")
      .option("root", root).option("table", "d.s.bc")
      .option("readChangeFeed", "true").load()
    assert(!cdf.columns.contains("gbucket"))
    val ins = cdf.filter(col("_change_type") === "insert").select("k", "x")
    val dels = cdf.filter(col("_change_type") === "delete").select("k", "x")
    val state = ins.exceptAll(dels)
    assert(state.count() == cat.read("d.s.bc").count())
    // streaming read over the bucketed chain delivers exactly-once
    val sink = tempDir("r8_bktcdf_sink")
    val q = spark.readStream.format("graft")
      .option("root", root).option("table", "d.s.bc").load()
      .writeStream.format("parquet")
      .option("path", s"$sink/out").option("checkpointLocation", s"$sink/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$sink/out")
    assert(!out.columns.contains("gbucket"))
    assert(out.count() == cat.read("d.s.bc").count())
  }

  test("plain CREATE with composite layout: INSERT, DELETE, chain union") {
    val root = tempDir("r8_compcreate")
    val cat = new TableCatalog(spark, root)
    spark.conf.set("spark.sql.catalog.gc_cc", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_cc.root", root)
    spark.sql(
      """CREATE TABLE gc_cc.d.s.cc (day INT, k BIGINT, x DOUBLE)
         PARTITIONED BY (day, bucket(2, k))""")
    (1L to 200L).map(i => ((i % 3).toInt, i, i * 1.0)).toDF("day", "k", "x")
      .createOrReplaceTempView("cc_src")
    spark.sql("INSERT INTO gc_cc.d.s.cc SELECT * FROM cc_src")
    assert(spark.sql("SELECT count(*) AS n FROM gc_cc.d.s.cc")
      .head().getLong(0) == 200)
    // the marker's inline identity column unions with path-encoded
    // data files in the catalog's internal chain reads (DELETE probes)
    spark.sql("DELETE FROM gc_cc.d.s.cc WHERE k % 40 = 0")
    assert(spark.sql("SELECT count(*) AS n FROM gc_cc.d.s.cc")
      .head().getLong(0) == 195)
    assert(cat.read("d.s.cc").count() == 195)
    // both layout levels survive another insert and a compact
    spark.sql("INSERT INTO gc_cc.d.s.cc VALUES (0, 500, 1.0)")
    cat.compact("d.s.cc")
    assert(spark.sql("SELECT count(*) AS n FROM gc_cc.d.s.cc")
      .head().getLong(0) == 196)
    assert(cat.dataFilePaths("d.s.cc")
      .forall(p => p.contains("/day=") && p.contains("/gbucket=")))
  }

  test("streaming sink into a bucketed table routes epochs to bucket dirs") {
    val root = tempDir("r8_bktstream")
    val cat = new TableCatalog(spark, root)
    spark.conf.set("spark.sql.catalog.gc_bs", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_bs.root", root)
    spark.sql(
      """CREATE TABLE gc_bs.d.s.bs (k BIGINT, x DOUBLE)
         PARTITIONED BY (bucket(4, k))""")
    // source: a small file-backed stream
    val srcDir = tempDir("r8_bktstream_src")
    (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "x")
      .repartition(2).write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream
      .schema("k BIGINT, x DOUBLE").parquet(srcDir)
      .writeStream
      .option("checkpointLocation", s"$root/_ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("gc_bs.d.s.bs")
    q.awaitTermination(120000)
    assert(spark.sql("SELECT count(*) AS n FROM gc_bs.d.s.bs")
      .head().getLong(0) == 200)
    // epoch files landed bucketed, same hash as every other writer
    assert(cat.dataFilePaths("d.s.bs").forall(_.contains("/gbucket=")))
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      cat.overwriteBucketed("d.s.bsdim",
        (1L to 200L by 2).map(i => (i, s"d_$i")).toDF("dk", "dname"), "dk", 4)
      val j = spark.sql(
        "SELECT k, x, dname FROM gc_bs.d.s.bs JOIN gc_bs.d.s.bsdim ON k = dk")
      assert(j.collect().length == 100)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "stream-written buckets must co-locate with catalog-written ones")
    }
  }

  test("RTAS: REPLACE TABLE AS SELECT overwrites in one commit") {
    val root = tempDir("r8_rtas")
    spark.conf.set("spark.sql.catalog.gc_rtas", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_rtas.root", root)
    (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "x")
      .createOrReplaceTempView("rtas_src")
    spark.sql("CREATE TABLE gc_rtas.d.s.rt AS SELECT * FROM rtas_src")
    assert(spark.sql("SELECT count(*) AS n FROM gc_rtas.d.s.rt")
      .head().getLong(0) == 50)
    spark.sql(
      "REPLACE TABLE gc_rtas.d.s.rt AS SELECT k, x * 2 AS x FROM rtas_src WHERE k <= 10")
    assert(spark.sql("SELECT count(*) AS n, CAST(sum(x) AS DOUBLE) AS s " +
      "FROM gc_rtas.d.s.rt").head().getDouble(1) == (1 to 10).map(_ * 2.0).sum)
    // the pre-replace snapshot stays time-travelable
    assert(spark.sql("SELECT count(*) AS n FROM gc_rtas.d.s.rt VERSION AS OF 0")
      .head().getLong(0) == 50)
    // CREATE OR REPLACE works whether or not the table exists
    spark.sql(
      "CREATE OR REPLACE TABLE gc_rtas.d.s.rt2 AS SELECT * FROM rtas_src")
    assert(spark.sql("SELECT count(*) AS n FROM gc_rtas.d.s.rt2")
      .head().getLong(0) == 50)
    spark.sql(
      "CREATE OR REPLACE TABLE gc_rtas.d.s.rt2 AS SELECT * FROM rtas_src WHERE k <= 5")
    assert(spark.sql("SELECT count(*) AS n FROM gc_rtas.d.s.rt2")
      .head().getLong(0) == 5)
  }

  test("one-sided shuffle SPJ: unbucketed side shuffles INTO the bucket layout") {
    val root = tempDir("r8_oneside")
    val cat = new TableCatalog(spark, root)
    cat.overwriteBucketed("d.s.osf",
      (1L to 2000L).map(i => (i, i * 1.5)).toDF("k", "x"), "k", 8)
    spark.conf.set("spark.sql.catalog.gc_os", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_os.root", root)
    // the dim side is a PLAIN relation (no graft layout at all)
    (1L to 2000L by 4).map(i => (i, s"d_$i")).toDF("dk", "dname")
      .createOrReplaceTempView("os_dim")
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        "SELECT k, x, dname FROM gc_os.d.s.osf JOIN os_dim ON k = dk")
      assert(j.collect().length == 500)
      // the FACT side must scan in place (no exchange above its scan);
      // the dim side shuffles into the bucket function's partitioning
      val plan = j.queryExecution.executedPlan.toString
      val factShuffled = {
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        def hasScanUnderShuffle(p: org.apache.spark.sql.execution.SparkPlan,
            underShuffle: Boolean): Boolean = p match {
          case _: BatchScanExec => underShuffle
          case s: ShuffleExchangeLike =>
            s.children.exists(hasScanUnderShuffle(_, underShuffle = true))
          case other =>
            other.children.exists(hasScanUnderShuffle(_, underShuffle)) ||
              (other.subqueries ++ other.innerChildren.collect {
                case sp: org.apache.spark.sql.execution.SparkPlan => sp
              }).exists(hasScanUnderShuffle(_, underShuffle))
        }
        hasScanUnderShuffle(
          j.queryExecution.executedPlan, underShuffle = false)
      }
      assert(!factShuffled,
        s"bucketed fact side must not shuffle under one-sided SPJ:\n$plan")
    }
  }

  test("SQL DDL: CREATE TABLE PARTITIONED BY (bucket(n, k)) routes DSv2 writes") {
    val root = tempDir("r8_sqlbucket")
    val cat = new TableCatalog(spark, root)
    spark.conf.set("spark.sql.catalog.gc_sqlb", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_sqlb.root", root)
    spark.sql(
      """CREATE TABLE gc_sqlb.d.s.sb (k BIGINT, x DOUBLE)
         PARTITIONED BY (bucket(4, k))""")
    (1L to 400L).map(i => (i, i * 1.0)).toDF("k", "x")
      .createOrReplaceTempView("sb_src")
    spark.sql("INSERT INTO gc_sqlb.d.s.sb SELECT * FROM sb_src")
    // rows landed in hive bucket dirs, routed by the SAME hash as the
    // catalog writer; the key column stays in the payload (CREATE's
    // zero-row schema marker also sits inside a bucket dir)
    val files = cat.dataFilePaths("d.s.sb")
    assert(files.nonEmpty && files.forall(_.contains("/gbucket=")))
    val back = spark.sql("SELECT * FROM gc_sqlb.d.s.sb")
    assert(back.count() == 400)
    assert(!back.columns.contains("gbucket"))
    // a second INSERT appends into the same layout
    spark.sql("INSERT INTO gc_sqlb.d.s.sb VALUES (401, 1.0), (402, 2.0)")
    assert(spark.sql("SELECT count(*) AS n FROM gc_sqlb.d.s.sb")
      .head().getLong(0) == 402)
    // SQL-written buckets co-locate with CATALOG-written buckets: the
    // routing hashes are bit-for-bit identical, so SPJ composes
    cat.overwriteBucketed("d.s.sbdim",
      (1L to 400L by 4).map(i => (i, s"d_$i")).toDF("dk", "dname"), "dk", 4)
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        "SELECT k, x, dname FROM gc_sqlb.d.s.sb JOIN gc_sqlb.d.s.sbdim ON k = dk")
      assert(j.collect().length == 100)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "SQL-written and catalog-written buckets must co-locate:\n" +
          j.queryExecution.executedPlan.toString)
    }
    // composite DDL via CTAS: identity + bucket in one layout
    spark.sql(
      """CREATE TABLE gc_sqlb.d.s.sbc
         PARTITIONED BY (day, bucket(2, k))
         AS SELECT CAST(k % 3 AS INT) AS day, k, x FROM sb_src""")
    val cfiles = cat.dataFilePaths("d.s.sbc")
      .filterNot(_.matches(".*/v_\\d{6}/[^/]+$")) // CREATE's v0 marker
    assert(cfiles.nonEmpty &&
      cfiles.forall(p => p.contains("/day=") && p.contains("/gbucket=")))
    assert(spark.sql("SELECT count(*) AS n FROM gc_sqlb.d.s.sbc")
      .head().getLong(0) == 400)
    // bucket pruning engages on the SQL-written layout too
    val point = spark.sql("SELECT * FROM gc_sqlb.d.s.sb WHERE k = 7")
    point.collect()
    assert(graft.connector.GraftPlanInspect.scanPartitionsOf(point)
      < cat.dataFilePaths("d.s.sb").size)
    // SQL DML rides the same MoR machinery on bucketed tables:
    // DELETE masks via DVs, UPDATE's replacement rows land inline and
    // compaction re-buckets them back into the layout
    spark.sql("DELETE FROM gc_sqlb.d.s.sb WHERE k = 5")
    assert(spark.sql("SELECT count(*) AS n FROM gc_sqlb.d.s.sb")
      .head().getLong(0) == 401)
    spark.sql("UPDATE gc_sqlb.d.s.sb SET x = -1.0 WHERE k = 6")
    assert(spark.sql("SELECT x FROM gc_sqlb.d.s.sb WHERE k = 6")
      .head().getDouble(0) == -1.0)
    cat.compact("d.s.sb")
    assert(cat.dataFilePaths("d.s.sb").forall(_.contains("/gbucket=")),
      "compaction must re-bucket inline-landed SQL UPDATE replacements")
    assert(spark.sql("SELECT count(*) AS n FROM gc_sqlb.d.s.sb")
      .head().getLong(0) == 401)
    assert(spark.sql("SELECT x FROM gc_sqlb.d.s.sb WHERE k = 6")
      .head().getDouble(0) == -1.0)
  }

  test("composite layout: identity partitions + bucket transform (date + key)") {
    val root = tempDir("r8_composite")
    val cat = new TableCatalog(spark, root)
    // the canonical 100 TB fact layout: PARTITIONED BY (day, bucket(4, k))
    val fact = (1L to 1200L)
      .map(i => (s"2024-0${(i % 3) + 1}", i, i * 1.0)).toDF("day", "k", "x")
    val dim = (1L to 1200L by 6)
      .map(i => (s"2024-0${(i % 3) + 1}", i, s"d_$i")).toDF("day", "dk", "dname")
    cat.overwriteBucketed("d.s.cf", fact, "k", 4, partitionCols = Seq("day"))
    cat.overwriteBucketed("d.s.cd", dim.withColumnRenamed("day", "dday"),
      "dk", 4, partitionCols = Seq("dday"))
    val files = cat.dataFilePaths("d.s.cf")
    assert(files.forall(p => p.contains("/day=") && p.contains("/gbucket=")),
      "both layout levels must encode in the path")
    assert(!cat.read("d.s.cf").columns.contains("gbucket"))
    spark.conf.set("spark.sql.catalog.gc_comp", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_comp.root", root)
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // join on BOTH layout levels: zero exchange on either side
      val j = spark.sql(
        """SELECT day, k, x, dname FROM gc_comp.d.s.cf JOIN gc_comp.d.s.cd
           ON day = dday AND k = dk""")
      assert(j.collect().length == 200)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "composite-co-partitioned join must plan without exchange:\n" +
          j.queryExecution.executedPlan.toString)
    }
    // pruning composes: identity partition first, then the bucket dir
    val dayOnly = cat.read("d.s.cf").filter(col("day") === "2024-02")
    dayOnly.collect()
    val dayScan = graft.connector.GraftPlanInspect.scanPartitionsOf(dayOnly)
    assert(dayScan < files.size, "day filter must prune partitions")
    val point = cat.read("d.s.cf")
      .filter(col("day") === "2024-02" && col("k") === 7L)
    point.collect()
    assert(graft.connector.GraftPlanInspect.scanPartitionsOf(point) < dayScan,
      "key filter must prune to one bucket within the day partition")
    // lifecycle: MoR delete + compaction keep BOTH layout levels
    cat.deleteWhereDV("d.s.cf", col("k") % 400 === 0)
    cat.compact("d.s.cf")
    assert(cat.dataFilePaths("d.s.cf")
      .forall(p => p.contains("/day=") && p.contains("/gbucket=")))
    assert(cat.read("d.s.cf").count() == 1197)
    cat.appendBucketed("d.s.cf",
      Seq(("2024-02", 5000L, 1.0)).toDF("day", "k", "x"))
    assert(cat.read("d.s.cf").count() == 1198)
  }

  test("bucketed layout survives COW update, merge, MoR delete, compact, truncate") {
    val root = tempDir("r8_bucket_life")
    val cat = new TableCatalog(spark, root)
    val fact = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "x")
    val dim = (1L to 1000L by 10).map(i => (i, s"d_$i")).toDF("dk", "dname")
    cat.overwriteBucketed("d.s.lf", fact, "k", 4)
    cat.overwriteBucketed("d.s.ld", dim, "dk", 4)
    def files() = cat.dataFilePaths("d.s.lf")
    def pointScan(key: Long): Int = {
      val df = cat.read("d.s.lf").filter(col("k") === key)
      df.collect()
      graft.connector.GraftPlanInspect.scanPartitionsOf(df)
    }
    // COW update REASSIGNING the bucket key: the replacement row must
    // re-route to its NEW bucket dir or bucket pruning silently loses it
    cat.updateWhere("d.s.lf", Map("k" -> lit(5000L)), col("k") === 7L)
    assert(cat.read("d.s.lf").filter(col("k") === 5000L).count() == 1,
      "re-keyed row must be visible through bucket pruning")
    assert(cat.read("d.s.lf").filter(col("k") === 7L).count() == 0)
    assert(files().forall(_.contains("/gbucket=")), "layout stays bucketed")
    // MERGE: source has no routing column; updates + NEW keys both route
    cat.merge("d.s.lf",
      Seq((5000L, -1.0), (9999L, 42.0)).toDF("k", "x"), Seq("k"))
    assert(cat.read("d.s.lf").filter(col("k") === 9999L).count() == 1)
    assert(cat.read("d.s.lf").filter(col("k") === 5000L)
      .select("x").as[Double].head() == -1.0)
    assert(files().forall(_.contains("/gbucket=")))
    // MoR DV delete keeps the spec live
    cat.deleteWhereDV("d.s.lf", col("k") % 100 === 0)
    assert(cat.read("d.s.lf").count() == 990) // 1001 - (100..1000 + 5000)
    // appends still route (spec resolvable through the mutated chain)
    cat.appendBucketed("d.s.lf", Seq((100L, 1.0)).toDF("k", "x"))
    assert(cat.read("d.s.lf").count() == 991)
    // COMPACT: fresh chain must re-derive routing AND carry the spec;
    // SPJ with the untouched dim stays exchange-free afterwards
    cat.compact("d.s.lf")
    assert(files().forall(_.contains("/gbucket=")))
    assert(cat.read("d.s.lf").count() == 991)
    val total = files().size
    assert(pointScan(41L) < total, "point lookup must open one bucket")
    spark.conf.set("spark.sql.catalog.gc_blife", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_blife.root", root)
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        "SELECT k, x, dname FROM gc_blife.d.s.lf JOIN gc_blife.d.s.ld ON k = dk")
      // dim keys are 1,11,…,991 (≡1 mod 10): none deleted or re-keyed
      assert(j.collect().length == 100)
      assert(graft.connector.GraftPlanInspect.joinExchangeFree(j),
        "post-compaction bucketed join must stay exchange-free:\n" +
          j.queryExecution.executedPlan.toString)
    }
    // the synthetic column never leaks through any read surface
    assert(!cat.read("d.s.lf").columns.contains("gbucket"))
    assert(!cat.readMergedSchema("d.s.lf").columns.contains("gbucket"))
    assert(!cat.readBetween("d.s.lf", "x", 0.0, 10.0).columns.contains("gbucket"))
    // TRUNCATE keeps the layout: appendBucketed still routes after
    cat.truncate("d.s.lf")
    assert(cat.read("d.s.lf").count() == 0)
    cat.appendBucketed("d.s.lf", Seq((1L, 1.0)).toDF("k", "x"))
    assert(cat.read("d.s.lf").count() == 1)
    // truncate's zero-row schema marker sits at the version root; the
    // appended data itself must land bucketed
    assert(files().exists(_.contains("/gbucket=")))
  }

  // ---- SQL schema evolution (ALTER TABLE ADD COLUMNS) ----------------------

  test("ALTER TABLE ADD COLUMNS: old rows NULL, appends carry, conflicts rejected") {
    val root = tempDir("r8_alter")
    val cname = "galter_" + root.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    spark.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cname.root", root)
    (1L to 10L).map(i => (i, s"n$i")).toDF("k", "name")
      .createOrReplaceTempView("r8_alter_src")
    spark.sql(s"CREATE TABLE $cname.d.s.ev AS SELECT * FROM r8_alter_src")
    spark.sql(s"ALTER TABLE $cname.d.s.ev ADD COLUMNS (note STRING, score DOUBLE)")
    // schema evolved; old rows read NULL
    val afterAlter = spark.sql(s"SELECT * FROM $cname.d.s.ev")
    assert(afterAlter.columns.toSeq == Seq("k", "name", "note", "score"))
    assert(afterAlter.filter(col("note").isNull && col("score").isNull)
      .count() == 10)
    // append WITH the new columns through SQL
    spark.sql(s"INSERT INTO $cname.d.s.ev VALUES (11, 'n11', 'fresh', 9.5)")
    val evolved = spark.sql(
      s"SELECT count(*) AS n, count(note) AS with_note, sum(score) AS s " +
        s"FROM $cname.d.s.ev").head()
    assert(evolved.getLong(0) == 11 && evolved.getLong(1) == 1)
    assert(evolved.getDouble(2) == 9.5)
    assert(spark.sql(s"SELECT k FROM $cname.d.s.ev WHERE note = 'fresh'")
      .as[Long].head() == 11L)
    // catalog API exposes the declared column too
    val cat = new TableCatalog(spark, root)
    assert(cat.read("d.s.ev").columns.toSeq ==
      Seq("k", "name", "note", "score"))
    assert(cat.read("d.s.ev").filter(col("note").isNotNull).count() == 1)
    // duplicate add is rejected
    val ex = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cname.d.s.ev ADD COLUMNS (name STRING)")
    }
    assert(ex.getMessage.contains("already exists") ||
      Option(ex.getCause).exists(_.getMessage.contains("already exists")))
    // other ALTER shapes stay unsupported, loudly (RENAME/DROP COLUMN
    // are supported since the column-mapping layer — see Round9Spec)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cname.d.s.ev ALTER COLUMN k TYPE STRING")
    }
    // the ALTER bumped a metadata version: time travel still exact
    assert(cat.version("d.s.ev").get >= 2)
  }

  // ---- change data feed ----------------------------------------------------

  test("batch change feed: per-commit inserts/deletes, SQL @changes identifier") {
    val root = tempDir("r8_cdf")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CDF"
    cat.overwrite(t, (1L to 100L).toDF("k").repartition(2)) // v0: creation
    cat.append(t, (101L to 120L).toDF("k"))                 // v1: insert
    cat.deleteWhereDV(t, col("k") % 10 === 0)               // v2: DV delete
    cat.append(t, (201L to 210L).toDF("k"))                 // v3: insert
    val cdf = spark.read.format("graft")
      .option("root", root).option("table", t)
      .option("readChangeFeed", "true").load()
    assert(cdf.columns.toSeq == Seq("k", "_change_type", "_commit_version"))
    val byType = cdf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 130L, "delete" -> 12L))
    // deletes carry the DV commit's version and the masked rows' values
    val dels = cdf.filter(col("_change_type") === "delete")
    assert(dels.select("_commit_version").distinct()
      .as[Int].collect().toSeq == Seq(2))
    assert(dels.select("k").as[Long].collect().sorted.toSeq ==
      (1L to 120L).filter(_ % 10 == 0).toSeq)
    // reconstruction: inserts minus deletes == the live table
    val ins = cdf.filter(col("_change_type") === "insert")
      .select("k")
    val state = ins.exceptAll(dels.select("k"))
    assert(state.as[Long].collect().sorted.toSeq ==
      cat.read(t).as[Long].collect().sorted.toSeq)
    // SQL surface: the @changes(a,b) identifier resolves the feed
    val cname = "gcdf_" + root.replaceAll("[^A-Za-z0-9]", "").takeRight(10)
    spark.conf.set(s"spark.sql.catalog.$cname", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cname.root", root)
    val viaSql = spark.sql(
      s"SELECT _change_type, count(*) AS n FROM $cname.D.S.`CDF@changes(0,3)` " +
        "GROUP BY 1").as[(String, Long)].collect().toMap
    assert(viaSql == Map("insert" -> 130L, "delete" -> 12L))
    // bounded range: only v1's commit
    val v1only = spark.read.format("graft")
      .option("root", root).option("table", t)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1").load()
    assert(v1only.select("k").as[Long].collect().sorted.toSeq ==
      (101L to 120L).toSeq)
    // compaction is change-wise a no-op: since round 9 it records a
    // `_CDCLOG` empty marker and the feed SURVIVES it with zero
    // additional change rows (see Round9Spec for the full CDC matrix)
    cat.compact(t)
    val afterRewrite = spark.read.format("graft")
      .option("root", root).option("table", t)
      .option("readChangeFeed", "true").load()
    val byTypePostCompact = afterRewrite.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byTypePostCompact == Map("insert" -> 130L, "delete" -> 12L))
    // world-replacing rewrites (overwrite) still fail loudly
    cat.overwrite(t, (1L to 5L).toDF("k"))
    val severed = spark.read.format("graft")
      .option("root", root).option("table", t)
      .option("readChangeFeed", "true").load()
    val ex = intercept[Exception] { severed.count() }
    def msgs(e: Throwable): String = {
      var cur = e; val sb = new StringBuilder
      while (cur != null) { sb.append(cur.getMessage).append(' '); cur = cur.getCause }
      sb.toString
    }
    assert(msgs(ex).contains("rewrote") || msgs(ex).contains("vacuumed"))
  }

  test("streaming change feed: appends arrive as inserts, DV commits as deletes") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r8_cdfstream")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CDFSTR"
    cat.overwrite(t, (1L to 50L).toDF("k").coalesce(1)) // v0
    val ckpt = s"$root/ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", t)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0").load()
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000); ()
    }
    drain() // v0 as inserts
    cat.append(t, (51L to 60L).toDF("k").coalesce(1)) // v1
    cat.deleteWhereDV(t, col("k") % 5 === 0)          // v2 (DV commit)
    drain() // v1 inserts + v2 deletes
    val sink = spark.read.parquet(s"$root/sink")
    val byType = sink.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 60L, "delete" -> 12L),
      s"got $byType")
    assert(sink.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().sorted.toSeq ==
      (1L to 60L).filter(_ % 5 == 0).toSeq)
    assert(sink.filter(col("_change_type") === "delete")
      .select("_commit_version").distinct().as[Int].collect().toSeq == Seq(2))
  }

  // ---- target file size on write ------------------------------------------

  test("partitioned DSv2 write rolls the hot value into multiple sized files") {
    val root = tempDir("r8_roll")
    val t = "D.S.ROLL"
    // heavy skew: one partition value holds ~all the rows — the
    // clustered distribution routes them to ONE task, which must roll
    val df = ((1L to 20000L).map(i => (i, "hot", "x" * 50)) ++
      (1L to 10L).map(i => (i, "cold", "y"))).toDF("k", "p", "pad")
    df.write.format("graft").option("root", root).option("table", t)
      .option("partitions", "p").option("targetFileSize", "65536")
      .mode("overwrite").save()
    val cat = new TableCatalog(spark, root)
    val files = cat.dataFilePaths(t)
    val hot = files.filter(_.contains("/p=hot/"))
    assert(hot.size >= 2,
      s"hot partition value must roll at 64k, got ${hot.size} file(s)")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rolled files are right-sized: nothing grossly over target
    hot.foreach { f =>
      assert(fs.getFileStatus(new Path(f)).getLen < 4L * 65536,
        s"rolled file far exceeds target: $f")
    }
    assert(cat.read(t).count() == 20010)
    assert(graftRead(root, t).filter(col("p") === "hot").count() == 20000)
    assert(graftRead(root, t).filter(col("p") === "cold").count() == 10)
  }

  test("unpartitioned DSv2 write rolls at targetFileSize, rows intact") {
    val root = tempDir("r8_rollflat")
    val t = "D.S.ROLLFLAT"
    (1L to 30000L).map(i => (i, "pad" * 20)).toDF("k", "pad").coalesce(1)
      .write.format("graft").option("root", root).option("table", t)
      .option("targetFileSize", "65536").mode("overwrite").save()
    val cat = new TableCatalog(spark, root)
    assert(cat.dataFilePaths(t).size >= 2, "single task must roll files")
    assert(cat.read(t).count() == 30000)
    assert(graftRead(root, t).agg(sum("k")).head().getLong(0) ==
      (1L to 30000L).sum)
  }

  // ---- OCC conflict RESOLUTION (rebase for commuting commits) -------------

  test("rebase helper commits on an advanced head when inputs are untouched") {
    val root = tempDir("r8_rebase_ok")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.REBOK"
    cat.overwrite(t, (1L to 100L).toDF("k").repartition(2))
    val v0 = cat.version(t).get
    val readFiles = cat.dataFilePaths(t).map(new Path(_))
    // a winner lands a blind append AFTER our snapshot was read
    cat.append(t, (101L to 110L).toDF("k"))
    // our commit based on v0 now conflicts — but the winner only ADDED
    // files, so the rebase validates and commits on top
    var committedAt = -1
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    cat.commit(t, Some(cat.snapshot(t, v0)), Some((readFiles, Nil))) { (dir, head) =>
      committedAt = head.get.version
      // a marker commit carrying head's files (what compact would do):
      // new rows + a hand-rolled manifest referencing the head chain
      (200L to 205L).toDF("k").coalesce(1).write
        .mode("overwrite").parquet(dir.toString)
      val carried = cat.dataFilePaths(t) // head IS live inside the claim
      val out = fs.create(new Path(dir, "_MANIFEST"), true)
      try out.write(carried.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    assert(committedAt == v0 + 1, "rebase must re-run against the winner")
    assert(cat.read(t).count() == 116) // 100 + 10 + 6: nothing lost
  }

  test("rebase helper aborts when the winner rewrote the read set") {
    val root = tempDir("r8_rebase_abort")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.REBNO"
    cat.overwrite(t, (1L to 100L).map(i => (i, 0L)).toDF("k", "flag")
      .repartition(2))
    val v0 = cat.version(t).get
    val readFiles = cat.dataFilePaths(t).map(new Path(_))
    // the winner REWRITES every file (copy-on-write update touches all)
    cat.updateWhere(t, Map("flag" -> lit(1L)), col("k") > 0)
    val ex = intercept[java.util.ConcurrentModificationException] {
      cat.commit(t, Some(cat.snapshot(t, v0)), Some((readFiles, Nil)))((dir, head) => ())
    }
    assert(ex.getMessage.contains("rewrote"))
  }

  test("rebase helper aborts when a new DV masks the read set") {
    val root = tempDir("r8_rebase_dv")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.REBDV"
    cat.overwrite(t, (1L to 100L).toDF("k").repartition(2))
    val v0 = cat.version(t).get
    val readFiles = cat.dataFilePaths(t).map(new Path(_))
    cat.deleteWhereDV(t, col("k") % 10 === 0) // winner masks our files
    val ex = intercept[java.util.ConcurrentModificationException] {
      cat.commit(t, Some(cat.snapshot(t, v0)), Some((readFiles, Nil)))((dir, head) => ())
    }
    assert(ex.getMessage.contains("masked"))
  }

  test("compaction lands across a concurrent append burst, no lost rows") {
    val root = tempDir("r8_compact_race")
    val t = "D.S.CRACE"
    new TableCatalog(spark, root).overwrite(t,
      (1L to 1000L).toDF("k").repartition(8)) // 8 small files
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try {
        barrier.await()
        val c = new TableCatalog(spark, root)
        (1 to 3).foreach { i => c.append(t, Seq(1000L + i).toDF("k")) }
      } catch { case e: Throwable => errs.add(e) }
    })
    appender.start()
    val compactor = new Thread(() => {
      try {
        barrier.await()
        new TableCatalog(spark, root).compact(t, targetFileBytes = 64L << 20)
      } catch { case e: Throwable => errs.add(e) }
    })
    compactor.start()
    appender.join(120000); compactor.join(120000)
    assert(errs.isEmpty,
      s"racing maintenance must not fail: ${errs.toArray.mkString("; ")}")
    val cat = new TableCatalog(spark, root)
    assert(cat.read(t).count() == 1003, "appends and compaction all landed")
    // compaction really happened: the 8 original small files are gone
    // (compacted output + up to 3 append files remain)
    assert(cat.dataFilePaths(t).size <= 4,
      s"expected compacted layout, got ${cat.dataFilePaths(t).size} files")
  }

  test("DV mutations land across concurrent appends (MoR + append race)") {
    val root = tempDir("r8_dv_race")
    val t = "D.S.DVRACE"
    new TableCatalog(spark, root).overwrite(t,
      (1L to 1000L).toDF("k").repartition(4))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val appender = new Thread(() => {
      try {
        barrier.await()
        val c = new TableCatalog(spark, root)
        (1 to 3).foreach { i => c.append(t, Seq(2000L + i).toDF("k")) }
      } catch { case e: Throwable => errs.add(e) }
    })
    val deleter = new Thread(() => {
      try {
        barrier.await()
        new TableCatalog(spark, root)
          .deleteWhereDV(t, col("k") % 10 === 0) // masks 100 of 1..1000
      } catch { case e: Throwable => errs.add(e) }
    })
    appender.start(); deleter.start()
    appender.join(120000); deleter.join(120000)
    assert(errs.isEmpty,
      s"racing MoR delete must not fail: ${errs.toArray.mkString("; ")}")
    val cat = new TableCatalog(spark, root)
    // 1000 - 100 masked + 3 appended (appends aren't divisible by 10
    // anyway, and the delete read snapshot semantics never covers them)
    assert(cat.read(t).count() == 903)
  }
}
