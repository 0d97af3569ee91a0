package graft

import java.util.ConcurrentModificationException
import java.util.concurrent.CyclicBarrier

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** Round-7 hardening: optimistic-concurrency snapshot conflicts,
  * vacuum-proof streaming-epoch idempotency, the SQL-catalog
  * partitioned-table guard, name+type append checking, and
  * union-of-footers schema inference for evolved chains. */
class Round7Spec extends SparkTestBase {
  import spark.implicits._

  private def graftRead(root: String, fq: String): DataFrame =
    spark.read.format("graft").option("root", root).option("table", fq).load()

  /** Write `df` as one parquet file somewhere stage-able and return
    * the part-file paths (the executor-staged-files shape the DSv2
    * writer produces). */
  private def stageParquet(df: DataFrame): Seq[Path] = {
    val d = tempDir("r7_stage")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    val fs = new Path(d).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(d)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
  }

  private def allMessages(e: Throwable): String = {
    val sb = new StringBuilder
    var cur: Throwable = e
    while (cur != null) { sb.append(cur.getMessage).append('\n'); cur = cur.getCause }
    sb.toString
  }

  // ---- snapshot conflicts (OCC) -------------------------------------------

  test("commitDelta based on a stale snapshot aborts instead of committing") {
    val root = tempDir("r7_occ")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.OCC"
    cat.overwrite(t, (1L to 100L).toDF("k"))
    val v0 = cat.version(t).get
    cat.append(t, (101L to 110L).toDF("k")) // a concurrent writer lands
    val ex = intercept[ConcurrentModificationException] {
      cat.commitDelta(t, Some(v0), stageParquet((200L to 202L).toDF("k")),
        Right(Nil))
    }
    assert(ex.getMessage.contains("rerun"))
    // the conflicting commit left no trace: version unchanged, rows intact
    assert(cat.version(t).get == v0 + 1)
    assert(cat.read(t).count() == 110)
  }

  test("SQL row-level op conflicts when the table advances mid-operation") {
    // the row-level operation pins its scan version at plan time; an
    // external commit between plan and write-commit must abort the op
    val root = tempDir("r7_occ_sql")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.OCCSQL"
    cat.overwrite(t, (1L to 50L).map(i => (i, i * 2.0)).toDF("k", "x"))
    // the delta write pins the version its scan read (what
    // GraftRowLevelOperation captures at plan time)…
    val wb = new graft.connector.GraftDeltaWrite(root, t,
      graftRead(root, t).schema, cat.version(t)).toBatch
    // …then the table moves on before the write commits
    cat.append(t, Seq((99L, 9.9)).toDF("k", "x"))
    val ex = intercept[ConcurrentModificationException] {
      wb.commit(Array(graft.connector.GraftDeltaMessage(Nil,
        Seq(stageParquet(Seq((7L, 7.7)).toDF("k", "x")).head.toString))))
    }
    assert(ex.getMessage.contains("row-level scan"))
  }

  test("two racing appends: one winner per version, retry converges, no lost update") {
    val root = tempDir("r7_race")
    val t = "D.S.RACE"
    new TableCatalog(spark, root).overwrite(t, Seq(0L).toDF("k"))
    val dfA = Seq(1L).toDF("k"); dfA.count() // materialize plans on main thread
    val dfB = Seq(2L).toDF("k"); dfB.count()
    val barrier = new CyclicBarrier(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val unexpected =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def run(df: DataFrame): Thread = new Thread(() => {
      try {
        barrier.await()
        var done = false; var attempts = 0
        while (!done && attempts < 60) {
          attempts += 1
          try { new TableCatalog(spark, root).append(t, df); done = true }
          catch {
            case _: ConcurrentModificationException =>
              // the loser backs off past the winner's in-flight commit
              // (generous: under parallel suite load a commit's Spark
              // job can hold the claim for seconds)
              conflicts.incrementAndGet(); Thread.sleep(500)
          }
        }
        if (!done) failures.incrementAndGet()
      } catch { case e: Throwable => unexpected.add(e) }
    })
    val (ta, tb) = (run(dfA), run(dfB))
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    assert(unexpected.isEmpty,
      s"non-conflict failure: ${unexpected.toArray.mkString("; ")}")
    assert(failures.get() == 0, "a writer never converged")
    val cat = new TableCatalog(spark, root)
    // no lost update: both appends present, chain readable, version
    // advanced exactly once per successful commit
    assert(cat.read(t).as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(cat.version(t).get == 2)
  }

  // ---- vacuum-proof streaming-epoch idempotency ---------------------------

  test("epoch tags survive vacuum retiring their version dirs") {
    val root = tempDir("r7_epochs")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.EPOCHS"
    cat.overwrite(t, (1L to 10L).toDF("k").repartition(2))
    cat.commitStaged(t, stageParquet((11L to 20L).toDF("k")).map(f => (f, f.getName)),
      Nil, overwrite = false, epochTag = Some("qid-7:42"))
    assert(cat.committedEpochs(t).contains("qid-7:42"))
    // a rewrite then an append orphan the epoch's version dir, and the
    // retention sweep (commit-time pruner + vacuum) retires it…
    cat.compact(t)
    cat.append(t, (21L to 25L).toDF("k"))
    cat.vacuum(t, keepVersions = 2)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(root, "D/S/EPOCHS/v_000001")),
      "the epoch's version dir (and its in-dir _EPOCH tag) should be retired")
    // …but the table-level _EPOCHS marker still detects the replay
    assert(cat.committedEpochs(t).contains("qid-7:42"))
  }

  // ---- hive-partitioned tables through the connector ----------------------

  test("connector reads partitioned tables: typed partition columns, pruning") {
    val root = tempDir("r7_ptread")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.pt"
    val letters = Array("a", "b", "c", "d")
    cat.overwritePartitioned(t,
      (1L to 1000L).map(i => (i, letters((i % 4).toInt), i * 1.5))
        .toDF("k", "p", "x"), Seq("p"))
    spark.conf.set("spark.sql.catalog.r7ptcat", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.r7ptcat.root", root)

    // partition column present, typed, correct through plain SQL
    val byP = spark.sql(
      "SELECT p, count(*) AS n, sum(k) AS sk FROM r7ptcat.db.s.pt GROUP BY p")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(byP.map(_._1).toSeq == Seq("a", "b", "c", "d"))
    assert(byP.map(_._2).sum == 1000)
    assert(byP.map(_._3).sum == (1L to 1000L).sum)

    // exact partition pruning: one partition's files scheduled
    def parts(d: org.apache.spark.sql.DataFrame): Int =
      graft.connector.GraftPlanInspect.scanPartitions(d)
    val all = graftRead(root, t)
    val total = parts(all.select("k").limit(1))
    val pruned = graftRead(root, t).filter(col("p") === "b")
    val prunedParts = parts(pruned.select("k", "p").limit(1))
    assert(prunedParts < total && prunedParts >= 1,
      s"partition pruning: $prunedParts of $total")
    assert(pruned.count() == 250)

    // columnar decode with the partition-constant vectors
    val agg = graftRead(root, t).filter(col("p") === "c")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
    agg.collect()
    assert(agg.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val r = agg.head()
    assert(math.abs(r.getDouble(0) -
      (1L to 1000L).filter(_ % 4 == 2).map(_ * 1.5).sum) < 1e-6)

    // partitioned DVs ride the connector read (row path) and SQL DELETE
    spark.sql("DELETE FROM r7ptcat.db.s.pt WHERE k % 10 = 0")
    val masked = graftRead(root, t)
    masked.collect()
    assert(masked.count() == 900)
    assert(spark.sql(
      "SELECT count(*) FROM r7ptcat.db.s.pt WHERE p = 'b'")
      .head().getLong(0) == (1L to 1000L).count(i => i % 4 == 1 && i % 10 != 0))

    // SQL UPDATE (row-level delta): masked originals + inline-
    // partitioned replacements; partition column survives the rewrite
    spark.sql("UPDATE r7ptcat.db.s.pt SET x = -1.0 WHERE k % 7 = 0")
    val after = graftRead(root, t)
    assert(after.count() == 900)
    val expUpd = (1L to 1000L).count(i => i % 7 == 0 && i % 10 != 0)
    assert(after.filter(col("x") === -1.0).count() == expUpd)
    assert(after.filter(col("x") === -1.0 && col("p") === "a").count() ==
      (1L to 1000L).count(i => i % 7 == 0 && i % 10 != 0 && i % 4 == 0))
    // compaction settles everything back into one hive-layout chain
    cat.compact(t)
    assert(graftRead(root, t).count() == 900)
    assert(graftRead(root, t).filter(col("x") === -1.0).count() == expUpd)
  }

  test("connector reads a numeric-partitioned table with inferred types") {
    val root = tempDir("r7_ptint")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.ptint"
    cat.overwritePartitioned(t,
      (1L to 300L).map(i => (i, (i % 3 + 2000).toInt, i * 1.0))
        .toDF("k", "year", "x"), Seq("year"))
    val rd = graftRead(root, t)
    // partition discovery infers int; the connector must agree
    assert(rd.schema("year").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val sel = rd.filter(col("year") === 2001)
    assert(graft.connector.GraftPlanInspect.scanPartitions(
      sel.select("k", "year").limit(1)) <
      graft.connector.GraftPlanInspect.scanPartitions(
        rd.select("k").limit(1)))
    assert(sel.count() == 100)
    assert(rd.groupBy("year").count().collect().map(_.getLong(1)).sum == 300)
  }

  // ---- name+type append check ---------------------------------------------

  test("DSv2 append with same-named column of different type is rejected") {
    val root = tempDir("r7_typechk")
    val t = "D.S.TYPES"
    def write(df: DataFrame, mode: String) = df.write.format("graft")
      .option("root", root).option("table", t).mode(mode).save()
    write((1L to 5L).toDF("k"), "overwrite")
    val ex = intercept[Exception] {
      write(Seq("x", "y").toDF("k"), "append")
    }
    assert(allMessages(ex).contains("neither matches nor widens"))
    // same names AND types still appends fine
    write((6L to 8L).toDF("k"), "append")
    assert(graftRead(root, t).count() == 8)
  }

  // ---- union-of-footers schema inference ----------------------------------

  test("connector read of an evolved chain exposes the union schema") {
    val root = tempDir("r7_evolve")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.EVOLVE"
    cat.overwrite(t, Seq((1L, "a"), (2L, "b")).toDF("k", "s"))
    cat.appendEvolving(t, Seq((3L, "c", 3.5)).toDF("k", "s", "x"))
    val got = graftRead(root, t)
    assert(got.schema.fieldNames.sorted.toSeq == Seq("k", "s", "x"))
    val rows = got.select("k", "s", "x").as[(Long, String, Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(3.5))))
  }

  // ---- single-pass merge-on-read mutations --------------------------------

  test("MoR delete and update scan their candidate files exactly once") {
    val root = tempDir("r7_onescan")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.ONESCAN"
    cat.overwrite(t,
      (1L to 20000L).map(i => (i, i * 2.0)).toDF("k", "x").repartition(4))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(s"[$funcName]\n${qe.executedPlan.toString}")
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def captured(body: => Unit): Seq[String] = {
      spark.listenerManager.register(listener)
      try {
        // executions that finished BEFORE `body` (the previous step's
        // verification read) may still be in flight on the async
        // listener bus: let them land, then drop them
        Thread.sleep(500)
        plans.clear()
        body
        // QueryExecutionListener delivery is async on the listener bus
        var last = -1; var stable = 0
        while (stable < 4) {
          Thread.sleep(250)
          val n = plans.size()
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        plans.toArray(Array.empty[String]).toSeq
      } finally spark.listenerManager.unregister(listener)
    }
    // a parquet scan NOT routed through the persisted candidate frame
    // = a re-read of the data files (the pre-fix triple-scan shape).
    // A plan string mentioning InMemoryTableScan reads the cache; the
    // FileScan text inside its InMemoryRelation description is the
    // cached lineage, executed only once at materialization.
    def uncachedScans(ps: Seq[String]): Seq[String] =
      ps.filter(p => p.contains("Scan parquet") &&
        !p.contains("InMemoryTableScan"))

    // update = probe + DV-sidecar write + replacement-data write; all
    // three executions must ride the single materialized cache
    val upd = captured {
      cat.updateWhereDV(t, Map("x" -> lit(0.0)), col("k") % 100 === 0)
    }
    assert(upd.count(_.contains("InMemoryTableScan")) >= 3,
      s"expected probe + 2 writes through the cache:\n${upd.mkString("\n----\n")}")
    assert(uncachedScans(upd).isEmpty,
      s"executions re-scanned the data files:\n${uncachedScans(upd).mkString("\n----\n")}")
    assert(cat.read(t).filter(col("x") === 0.0).count() == 200)

    val del = captured { cat.deleteWhereDV(t, col("k") % 100 === 50) }
    assert(del.count(_.contains("InMemoryTableScan")) >= 2,
      s"expected probe + DV write through the cache:\n${del.mkString("\n----\n")}")
    assert(uncachedScans(del).isEmpty,
      s"executions re-scanned the data files:\n${uncachedScans(del).mkString("\n----\n")}")
    assert(cat.read(t).count() == 20000 - 200)
  }

  // ---- vectorized (columnar) connector read path --------------------------

  test("connector reads are columnar when DV-free, row-based with DVs") {
    val root = tempDir("r7_columnar")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.COL"
    val df = (1L to 5000L).map { i =>
      (i, s"s$i", i * 1.5, java.sql.Timestamp.valueOf(
        s"2024-01-${(i % 27 + 1).toString.reverse.padTo(2, '0').reverse}" +
          " 10:00:00"),
        Array(i * 0.5, i * 0.25))
    }.toDF("k", "s", "x", "ts", "arr")
    cat.overwrite(t, df.repartition(3))

    def planOf(d: org.apache.spark.sql.DataFrame): String = {
      d.collect(); d.queryExecution.executedPlan.toString
    }

    // DV-free → vectorized: the plan carries the ColumnarToRow
    // transition above the graft BatchScan
    val rd = graftRead(root, t)
    val full = rd.agg(sum("k").as("sk"), sum("x").as("sx"),
      max("ts").as("mt"), sum(element_at(col("arr"), 1)).as("sa"))
    assert(planOf(full).contains("ColumnarToRow"),
      "DV-free connector scan should decode columnar")
    val r = full.head()
    assert(r.getLong(0) == (1L to 5000L).sum)
    assert(math.abs(r.getDouble(1) - (1L to 5000L).map(_ * 1.5).sum) < 1e-6)
    assert(math.abs(r.getDouble(3) - (1L to 5000L).map(_ * 0.5).sum) < 1e-6)

    // pushed filter on the columnar path: row-group skipping below the
    // decode, results exact (filters stay residual)
    val filtered = graftRead(root, t).filter(col("k") <= 100L)
    assert(planOf(filtered).contains("ColumnarToRow"))
    assert(filtered.count() == 100)

    // metadata row-id columns force the row path (per-record addresses)
    val withIds = graftRead(root, t).select(col("k"), col("_gpos"))
    assert(!planOf(withIds).contains("ColumnarToRow"),
      "_gpos needs the row reader's running index")
    assert(withIds.count() == 5000)

    // outstanding DVs KEEP the columnar path (round 8): masked batches
    // wrap their vectors with a survivor map, and the result is exact
    cat.deleteWhereDV(t, col("k") % 10 === 0)
    val masked = graftRead(root, t)
    assert(planOf(masked).contains("ColumnarToRow"),
      "DV'd scan stays columnar via MaskedColumnVector")
    assert(masked.count() == 4500)
    val maskedAgg = graftRead(root, t).agg(sum("k")).head().getLong(0)
    assert(maskedAgg == (1L to 5000L).filterNot(_ % 10 == 0).sum)

    // compaction settles the masks → columnar again
    cat.compact(t)
    val again = graftRead(root, t)
    assert(planOf(again).contains("ColumnarToRow"))
    assert(again.count() == 4500)
  }

  // ---- nested types through the connector ---------------------------------

  test("struct columns round-trip through the connector, both decode paths") {
    val root = tempDir("r7_nested")
    val t = "D.S.NESTED"
    val df = (1L to 300L).toDF("k").select(col("k"),
      struct(
        concat(lit("lang"), col("k") % 3).as("lang"),
        (col("k") * 10).as("n"),
        col("k").cast("string").cast("binary").as("payload")).as("meta"),
      array(col("k") * 0.5, col("k") * 0.25).as("emb"))
    df.write.format("graft").option("root", root).option("table", t)
      .mode("overwrite").save()

    def rd = graftRead(root, t)
    def planOf(d: org.apache.spark.sql.DataFrame): String = {
      d.collect(); d.queryExecution.executedPlan.toString
    }

    // columnar path decodes the nested shape
    val agg = rd.groupBy(col("meta.lang").as("lang"))
      .agg(count(lit(1)).as("n"), sum("meta.n").as("sum_n"),
        sum(length(col("meta.payload"))).as("payload_bytes"),
        sum(element_at(col("emb"), 1)).as("sum_emb"))
    assert(planOf(agg).contains("ColumnarToRow"))
    val rows = agg.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._2).sum == 300)
    assert(rows.map(_._3).sum == (1L to 300L).map(_ * 10).sum)
    assert(rows.map(_._4).sum ==
      (1L to 300L).map(_.toString.length.toLong).sum)

    // a DV keeps the SAME nested query columnar (round 8): the masked
    // wrapper's getChild threads the survivor map into struct children
    new TableCatalog(spark, root).deleteWhereDV(t, col("k") % 5 === 0)
    val masked = rd.select(col("k"), col("meta.lang"), col("meta.n"))
    assert(planOf(masked).contains("ColumnarToRow"))
    assert(masked.count() == 240)
    assert(rd.agg(sum("meta.n")).head().getLong(0) ==
      (1L to 300L).filter(_ % 5 != 0).map(_ * 10).sum)

    // row-id metadata columns coexist with nested data columns
    val withIds = rd.select(col("_gpos"), col("meta.lang")).collect()
    assert(withIds.length == 240)
  }

  test("projectSchemaFor physically prunes into structs") {
    import org.apache.spark.sql.types._
    val full = graft.connector.GraftWriteSchema.toMessageType(StructType(Seq(
      StructField("k", LongType),
      StructField("meta", StructType(Seq(
        StructField("lang", StringType),
        StructField("n", LongType),
        StructField("payload", BinaryType)))))))
    val pruned = graft.connector.GraftParquetIO.projectSchemaFor(full,
      StructType(Seq(StructField("meta", StructType(Seq(
        StructField("lang", StringType)))))))
    // exactly ONE leaf column survives: meta.lang — payload pages are
    // never read when only the language is referenced
    assert(pruned.getPaths.size() == 1)
    assert(pruned.getPaths.get(0).toSeq == Seq("meta", "lang"))
  }

  // ---- string min/max file skipping ---------------------------------------

  test("string range and prefix predicates skip files via truncated bounds") {
    val root = tempDir("r7_strskip")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.STRSKIP"
    // keys longer than the 16-byte stat truncation, disjoint prefixes
    def keys(prefix: String) = (1 to 400).map(i =>
      (f"${prefix}_$i%09d_${"x" * 24}", i.toLong))
    Seq("apple", "mango", "zebra").foreach { p =>
      cat.append(t, keys(p).toDF("skey", "v").coalesce(1))
    }
    def rd = graftRead(root, t)
    def parts(d: org.apache.spark.sql.DataFrame): Int =
      graft.connector.GraftPlanInspect.scanPartitions(d)
    assert(parts(rd.select("skey").limit(1)) == 3)

    // range: only the mango file survives
    val range = rd.filter(col("skey") >= "mango" && col("skey") < "mangp")
    assert(parts(range.select("skey").limit(1)) == 1)
    assert(range.count() == 400)

    // prefix (StringStartsWith = [prefix, succ(prefix)))
    val pref = rd.filter(col("skey").startsWith("zebra"))
    assert(parts(pref.select("skey").limit(1)) == 1)
    assert(pref.agg(sum("v")).head().getLong(0) == (1L to 400L).sum)

    // point equality through the string bounds (no bloom index built)
    val one = rd.filter(col("skey") === keys("apple")(7)._1)
    assert(parts(one.select("skey").limit(1)) == 1)
    assert(one.count() == 1)

    // catalog-side readBetween on the string key
    val rb = cat.readBetween(t, "skey", "mango", "mangz")
    assert(rb.inputFiles.length == 1)
    assert(rb.count() == 400)

    // truncation soundness edges
    import graft.catalog.TableCatalog._
    assert(truncUpper(Array.fill(20)(0xff.toByte)).isEmpty)
    val long = ("mango_000000007_" + "x" * 24).getBytes("UTF-8")
    assert(compareBytes(truncLower(long), long) <= 0)
    assert(truncUpper(long).exists(u => compareBytes(u, long) >= 0))
  }

  // ---- partitioned data-column skipping, blooms, clones -------------------

  test("partitioned tables: data-column stats/bloom skipping and shallow clone") {
    val root = tempDir("r7_ptskip")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.ptskip"
    // three appends with disjoint k-ranges, partitioned by p — each
    // append's files carry tight k stats
    cat.overwritePartitioned(t,
      (1L to 300L).map(i => (i, if (i % 2 == 0) "e" else "o", s"id$i"))
        .toDF("k", "p", "id"), Seq("p"))
    cat.append(t, (301L to 600L).map(i =>
      (i, if (i % 2 == 0) "e" else "o", s"id$i")).toDF("k", "p", "id"))
    cat.append(t, (601L to 900L).map(i =>
      (i, if (i % 2 == 0) "e" else "o", s"id$i")).toDF("k", "p", "id"))

    // data-column range read opens only the overlapping commit's files
    val rb = cat.readBetween(t, "k", 350L, 420L)
    assert(rb.count() == 71)
    assert(rb.inputFiles.length < cat.dataFilePaths(t).size)
    // partition columns survive the pruned subset read
    assert(rb.filter(col("p") === "e").count() ==
      (350L to 420L).count(_ % 2 == 0))

    // bloom point lookup on a DATA column of the partitioned table
    cat.buildBloomIndex(t, "id")
    val pt = cat.readPoint(t, "id", "id777")
    assert(pt.count() == 1)
    assert(pt.inputFiles.length < cat.dataFilePaths(t).size)
    assert(pt.head().getAs[String]("p") == "o")
    // partition columns reject bloom indexing (pruning answers exactly)
    intercept[IllegalArgumentException] { cat.buildBloomIndex(t, "p") }

    // partitioned shallow clone: zero copy, independent evolution
    cat.deleteWhereDV(t, col("k") % 9 === 0)
    cat.cloneTable(t, "db.s.ptclone")
    assert(cat.read("db.s.ptclone").count() == cat.read(t).count())
    cat.deleteWhereDV("db.s.ptclone", col("p") === "e")
    assert(cat.read("db.s.ptclone").filter(col("p") === "e").count() == 0)
    assert(cat.read(t).filter(col("p") === "e").count() > 0) // src untouched
  }

  test("metadata-only aggregates answer over partitioned tables") {
    val root = tempDir("r7_ptagg")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.ptagg"
    cat.overwritePartitioned(t,
      (1L to 500L).map(i => (i, (2000 + (i % 5)).toInt, s"s$i"))
        .toDF("k", "year", "s"), Seq("year"))
    val rd = graftRead(root, t)
    // COUNT(*) + MIN/MAX over the data column (stats) AND the
    // partition column (path strings): one synthetic partition, zero
    // data files opened
    val agg = rd.agg(count(lit(1)).as("n"), min("k").as("mink"),
      max("k").as("maxk"), min("year").as("miny"), max("year").as("maxy"))
    assert(graft.connector.GraftPlanInspect.scanPartitions(agg) == 1,
      "expected metadata-answered aggregate")
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
      r.getInt(4)) == ((500L, 1L, 500L, 2000, 2004)))
    // a DV deactivates the pushdown; fallback stays exact
    cat.deleteWhereDV(t, col("k") === 500L)
    val agg2 = rd.agg(count(lit(1)).as("n"), max("year").as("my"))
    assert(graft.connector.GraftPlanInspect.scanPartitions(agg2) > 1)
    assert(agg2.head().getLong(0) == 499L)
  }

  test("connector reads an evolved mixed-layout partitioned table") {
    val root = tempDir("r7_ptevolve")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.ptev"
    // unpartitioned first (p inline in the data files)…
    cat.overwrite(t, (1L to 200L).map(i => (i, s"g${i % 2}", i * 1.0))
      .toDF("k", "p", "x"))
    // …then evolve to a hive layout going forward (p path-encoded)
    cat.appendEvolvePartitioning(t,
      (201L to 300L).map(i => (i, s"g${i % 2}", i * 1.0)).toDF("k", "p", "x"),
      Seq("p"))
    val rd = graftRead(root, t)
    assert(rd.count() == 300)
    // p resolves from DATA in old files and from the PATH in new ones
    val byP = rd.groupBy("p").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byP == Map("g0" -> 150L, "g1" -> 150L))
    assert(rd.filter(col("p") === "g1").agg(sum("k")).head().getLong(0) ==
      (1L to 300L).filter(_ % 2 == 1).sum)
    // partition pruning applies to the evolved slice: a p-filter prunes
    // the path-encoded files, old files stay (their stats can't prove)
    val total = graft.connector.GraftPlanInspect.scanPartitions(
      rd.select("k").limit(1))
    val sel = graftRead(root, t).filter(col("p") === "g0")
    assert(graft.connector.GraftPlanInspect.scanPartitions(
      sel.select("k", "p").limit(1)) < total)
  }

  test("partitioned tables stream: appends deliver with partition values") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r7_ptstream")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.ptstream"
    cat.overwritePartitioned(t,
      (1L to 100L).map(i => (i, s"g${i % 2}")).toDF("k", "p")
        .repartition(2, col("p")), Seq("p"))
    val ckpt = tempDir("r7_ptstream_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", t).load()
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); ()
    }
    drain() // snapshot: partition column rides into the sink
    val s1 = spark.read.parquet(s"$root/sink")
    assert(s1.count() == 100)
    assert(s1.groupBy("p").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("g0" -> 50L, "g1" -> 50L))
    cat.append(t, (101L to 140L).map(i => (i, s"g${i % 2}")).toDF("k", "p")
      .repartition(2, col("p")))
    drain() // O(delta): only the appended partitioned files
    val s2 = spark.read.parquet(s"$root/sink")
    assert(s2.count() == 140)
    assert(s2.agg(sum("k")).head().getLong(0) == (1L to 140L).sum)
    assert(s2.filter(col("p") === "g1").count() ==
      (1L to 140L).count(_ % 2 == 1))
  }

  test("REPLACE WHERE commits atomically on a partitioned table") {
    val root = tempDir("r7_ptrw")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.ptrw"
    cat.overwritePartitioned(t,
      (1L to 300L).map(i => (i, s"g${i % 3}", i * 1.0)).toDF("k", "g", "x")
        .repartition(3, col("g")), Seq("g"))
    val before = cat.dataFilePaths(t)
    val v0 = cat.version(t).get
    spark.conf.set("spark.sql.catalog.r7rwcat", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.r7rwcat.root", root)
    (1001L to 1050L).map(i => (i, -1.0, "g1")).toDF("k", "x", "g")
      .createOrReplaceTempView("r7_rw_src")
    // one commit: DV-mask the g1 slice + adopt the replacements
    spark.sql("INSERT INTO r7rwcat.d.s.ptrw REPLACE WHERE g = 'g1' " +
      "SELECT k, x, g FROM r7_rw_src")
    assert(cat.version(t).get == v0 + 1, "must be ONE commit")
    assert(before.toSet.subsetOf(cat.dataFilePaths(t).toSet),
      "no pre-existing file rewritten")
    val after = cat.read(t)
    assert(after.filter(col("g") === "g1").count() == 50)
    assert(after.filter(col("g") === "g1" && col("x") === -1.0).count() == 50)
    assert(after.filter(col("g") =!= "g1").count() == 200)
    assert(after.count() == 250)
    // the pre-op snapshot still time-travels complete
    assert(cat.readVersion(t, v0).count() == 300)
  }

  // ---- partitioned CTAS / INSERT through SQL ------------------------------

  test("CTAS PARTITIONED BY + INSERT INTO write the hive layout") {
    val root = tempDir("r7_ptctas")
    spark.conf.set("spark.sql.catalog.r7ctas", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.r7ctas.root", root)
    (1L to 400L).map(i => (i, s"g${i % 3}", i * 2.0))
      .toDF("k", "g", "x").createOrReplaceTempView("r7_src")
    spark.sql("""CREATE TABLE r7ctas.d.s.pt PARTITIONED BY (g)
                 AS SELECT * FROM r7_src""")
    // the layout on disk is hive: g=… directories, g stripped from files
    val cat = new TableCatalog(spark, root)
    val files = cat.dataFilePaths("d.s.pt")
    assert(files.nonEmpty && files.forall(_.contains("/g=g")),
      s"expected hive layout, got:\n${files.mkString("\n")}")
    assert(spark.read.parquet(files.head).schema.fieldNames.sorted.toSeq ==
      Seq("k", "x"), "partition column must be path-encoded, not payload")
    // clustered write: ~one file per partition value, not per task
    assert(files.length <= 6, s"file explosion: ${files.length}")

    // reads via SQL recover g with partition pruning
    assert(spark.sql("SELECT count(*) FROM r7ctas.d.s.pt WHERE g = 'g1'")
      .head().getLong(0) == (1L to 400L).count(_ % 3 == 1))
    assert(spark.sql("SELECT sum(k) FROM r7ctas.d.s.pt")
      .head().getLong(0) == (1L to 400L).sum)

    // INSERT INTO appends into the same layout, carried by manifest.
    // The canonical partitioned schema lists partition columns LAST
    // (k, x, g) — the standard Spark convention — so positional SQL
    // INSERT supplies them last too.
    assert(spark.table("r7ctas.d.s.pt").schema.fieldNames.toSeq ==
      Seq("k", "x", "g"))
    spark.sql("INSERT INTO r7ctas.d.s.pt " +
      "SELECT k + 1000, x, g FROM r7_src WHERE k <= 50")
    assert(spark.sql("SELECT count(*) FROM r7ctas.d.s.pt")
      .head().getLong(0) == 450)
    assert(cat.dataFilePaths("d.s.pt").toSet.intersect(files.toSet) ==
      files.toSet, "append must carry prior files, not rewrite")
    // catalog API interops: partitioned MoR delete over the SQL-made table
    cat.deleteWhereDV("d.s.pt", col("k") > 1000L)
    assert(spark.sql("SELECT count(*) FROM r7ctas.d.s.pt")
      .head().getLong(0) == 400)
  }

  test("z-order compaction clusters within hive partitions") {
    val root = tempDir("r7_ptzorder")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.ptz"
    val rnd = new scala.util.Random(7)
    cat.overwritePartitioned(t,
      (1 to 16000).map(i => (rnd.nextInt(1000).toLong,
        rnd.nextInt(1000).toLong, s"g${i % 2}")).toDF("a", "b", "p")
        .repartition(8), Seq("p"))
    cat.compactZOrder(t, Seq("a", "b"), targetFileBytes = 16L << 10)
    // layout preserved, data intact
    assert(cat.dataFilePaths(t).forall(_.contains("/p=g")))
    assert(cat.read(t).count() == 16000)
    assert(cat.read(t).groupBy("p").count().collect()
      .map(_.getLong(1)).toSeq == Seq(8000L, 8000L))
    // the z layout makes a 2-D box prunable via _STATS through the
    // connector (random layout couldn't skip anything)
    val rd = graftRead(root, t)
    val total = graft.connector.GraftPlanInspect.scanPartitions(
      rd.select("a").limit(1))
    assert(total > 2, s"need multiple files for skipping evidence: $total")
    val box = graftRead(root, t)
      .filter(col("a") < 100L && col("b") < 100L)
    val boxParts = graft.connector.GraftPlanInspect.scanPartitions(
      box.select("a", "b").limit(1))
    assert(boxParts < total, s"z-order skipping: $boxParts of $total")
    // partition column rejected as a z-order dimension
    intercept[IllegalArgumentException] {
      cat.compactZOrder(t, Seq("p", "a"))
    }
  }

  test("fastCount ignores inert DV entries carried past a COW rewrite") {
    val root = tempDir("r7_inertdv")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.inert"
    cat.overwrite(t, (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "x")
      .repartitionByRange(4, col("k"))) // key-disjoint files
    cat.deleteWhereDV(t, col("k") <= 100)
    assert(cat.fastCount(t).contains(900L))
    assert(cat.deletionVectorRows(t) == 100L)
    // the COW update rewrites the masked files (reading THROUGH the
    // masks) and carries the DV manifest for the untouched ones — its
    // entries addressing the rewritten files are now INERT and must
    // not subtract from the metadata count
    cat.updateWhere(t, Map("x" -> lit(0.0)), col("k") <= 200)
    assert(cat.count(t) == 900)
    assert(cat.fastCount(t).contains(900L),
      "inert DV entries over-subtracted from fastCount")
    assert(cat.deletionVectorRows(t) == 0L)
  }

  // ---- sidecar parse caching ----------------------------------------------

  test("sidecar parses are cached across repeated plans") {
    val root = tempDir("r7_metacache")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.METACACHE"
    Seq(1L to 300L, 301L to 600L, 601L to 900L).foreach { r =>
      cat.append(t, r.map(i => (i, s"k$i", i * 2.0)).toDF("k", "s", "x")
        .coalesce(1))
    }
    cat.buildBloomIndex(t, "s")
    def misses = graft.catalog.TableCatalog.metaCacheMisses.get()
    def hits = graft.catalog.TableCatalog.metaCacheHits.get()

    // first plans warm the cache…
    assert(cat.readBetween(t, "k", 100L, 200L).count() == 101)
    assert(cat.readPoint(t, "s", "k500").count() == 1)
    assert(cat.fastCount(t).contains(900L))
    val (m1, h1) = (misses, hits)
    // …repeated planning is pure cache hits: zero sidecar re-reads
    assert(cat.readBetween(t, "k", 100L, 200L).count() == 101)
    assert(cat.readPoint(t, "s", "k500").count() == 1)
    assert(cat.fastCount(t).contains(900L))
    assert(misses == m1, "repeated plans re-read sidecars")
    assert(hits > h1)

    // a new commit's sidecar is a fresh parse, the carried ones stay hot
    cat.append(t, Seq((901L, "k901", 2.0)).toDF("k", "s", "x").coalesce(1))
    val m2 = misses
    assert(cat.fastCount(t).contains(901L))
    assert(misses - m2 <= 2, "append should add at most the new version's parses")
  }

  // ---- change-tolerant streaming ------------------------------------------

  test("skipChangeCommits streams appends across DV and compact commits") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("r7_skipcc")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.SKIPCC"
    cat.overwrite(t, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "s")
      .coalesce(1))
    val ckpt = tempDir("r7_skipcc_ckpt")
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", t)
        .option("skipChangeCommits", "true").load()
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); ()
    }
    drain() // initial snapshot
    assert(spark.read.parquet(s"$root/sink").count() == 100)
    // a DV delete (change commit), an append, a MoR update (change),
    // and another append land between drains
    cat.deleteWhereDV(t, col("k") % 10 === 0)
    cat.append(t, (101L to 150L).map(i => (i, s"v$i")).toDF("k", "s")
      .coalesce(1))
    cat.updateWhereDV(t, Map("s" -> lit("upd")), col("k") === 3L)
    cat.append(t, (151L to 170L).map(i => (i, s"v$i")).toDF("k", "s")
      .coalesce(1))
    drain() // appends delivered, change commits silently skipped
    val sunk = spark.read.parquet(s"$root/sink")
    assert(sunk.count() == 170)
    assert(sunk.agg(sum("k")).head().getLong(0) == (1L to 170L).sum)
    // already-delivered rows were NOT retracted or re-delivered; the
    // MoR update's replacement row was not re-emitted either
    assert(sunk.filter(col("s") === "upd").count() == 0)

    // WITHOUT the option, the same sequence fails loudly (strict mode)
    val strictCkpt = tempDir("r7_strict_ckpt")
    def strictDrain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", t).load()
        .writeStream.format("parquet")
        .option("path", s"$root/sink_strict")
        .option("checkpointLocation", strictCkpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); ()
    }
    strictDrain()
    cat.compact(t) // rewrite
    cat.append(t, Seq((171L, "v171")).toDF("k", "s"))
    val ex = intercept[Exception] { strictDrain() }
    assert(allMessages(ex).contains("skipChangeCommits") ||
      ex.toString.contains("StreamingQueryException"))
  }

  // ---- deletion vectors on hive-partitioned tables ------------------------

  test("partitioned tables take merge-on-read deletes and updates") {
    val root = tempDir("r7_pdv")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.pdv"
    val letters = Array("a", "b", "c", "d")
    cat.overwritePartitioned(t,
      (1L to 1000L).map(i => (i, letters((i % 4).toInt), i * 1.0))
        .toDF("k", "p", "x"), Seq("p"))
    val filesBefore = cat.dataFilePaths(t)

    // MoR delete: ZERO data files rewritten, result exact
    cat.deleteWhereDV(t, col("k") % 10 === 0)
    assert(cat.dataFilePaths(t) == filesBefore, "DV delete must not rewrite")
    assert(cat.read(t).count() == 900)
    assert(cat.read(t).filter(col("p") === "a").count() ==
      (1L to 1000L).count(i => i % 4 == 0 && i % 10 != 0))

    // MoR update: masks originals, adds partitioned replacement files
    cat.updateWhereDV(t, Map("x" -> lit(-1.0)), col("k") % 10 === 1)
    val filesAfter = cat.dataFilePaths(t)
    assert(filesBefore.forall(filesAfter.contains), "MoR update only adds")
    assert(cat.read(t).filter(col("x") === -1.0).count() == 100)
    assert(cat.read(t).count() == 900)

    // COW update reads THROUGH the masks: deleted rows never resurrect
    cat.updateWhere(t, Map("x" -> lit(5.0)), col("k") % 10 === 2)
    assert(cat.read(t).count() == 900)
    assert(cat.read(t)
      .filter(col("k") % 10 === 2 && col("x") === 5.0).count() == 100)

    // time travel still sees the pre-delete snapshot
    assert(cat.readVersion(t, 0).count() == 1000)

    // compaction settles the MoR debt and clears the masks
    cat.compact(t)
    assert(cat.deletionVectorRows(t) == 0)
    assert(cat.read(t).count() == 900)
    assert(cat.read(t).filter(col("x") === -1.0).count() == 100)
  }

  test("partition evolution with outstanding DVs keeps masks applied") {
    val root = tempDir("r7_evolvedv")
    val cat = new TableCatalog(spark, root)
    val t = "db.s.evdv"
    cat.overwrite(t,
      (1L to 200L).map(i => (i, if (i <= 100) "old" else "mid", i * 1.0))
        .toDF("k", "p", "x"))
    cat.deleteWhereDV(t, col("k") <= 10)
    // re-layout going forward while 10 rows are still only DV-masked
    cat.appendEvolvePartitioning(t,
      (201L to 300L).map(i => (i, "new", i * 1.0)).toDF("k", "p", "x"),
      Seq("p"))
    assert(cat.read(t).count() == 290)
    assert(cat.read(t).filter(col("k") <= 10).count() == 0,
      "masked rows resurrected through the evolved layout")
    assert(cat.read(t).filter(col("p") === "new").count() == 100)
  }

  test("type-conflicting appends fail loudly — at WRITE time (round 11); " +
      "a pre-existing conflicting chain still fails loudly at read") {
    val root = tempDir("r7_conflict")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CONFLICT"
    cat.overwrite(t, Seq(1L).toDF("k"))
    // the catalog append now REJECTS incompatible types up front
    // (previously it committed and only the read exploded)
    val ex = intercept[Exception] { cat.append(t, Seq("oops").toDF("k")) }
    assert(allMessages(ex).contains("neither matches nor widens"))
    // a conflicting chain that somehow exists on disk (out-of-band
    // write) still fails loudly at schema-union time: drop a
    // string-typed file into a fresh version dir by hand
    cat.append(t, Seq(2L).toDF("k")) // v1 (so v0 stays retained)
    val dir = java.nio.file.Paths.get(root, "D", "S", "CONFLICT")
    val vNext = new java.io.File(dir.toFile, "v_000002")
    Seq("oops").toDF("k").coalesce(1).write
      .parquet(s"${vNext.getAbsolutePath}")
    // point the manifest chain at it: ref + own files resolve
    java.nio.file.Files.write(vNext.toPath.resolve("_MANIFEST"),
      s"file:${dir.toAbsolutePath}/v_000001".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("_CURRENT"),
      "2".getBytes("UTF-8"))
    // the out-of-band rewrite broke the local-FS checksum sidecar
    java.nio.file.Files.deleteIfExists(dir.resolve("._CURRENT.crc"))
    val ex2 = intercept[Exception] { graftRead(root, t).collect() }
    assert(allMessages(ex2).contains("conflicting types"), allMessages(ex2))
  }
}
