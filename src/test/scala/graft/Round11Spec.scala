package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** Round-11 catalog fixes: swap-shaped column-mapping renames resolve
  * through ONE projection (not a colliding rename fold), and crash
  * recovery clears a died ALTER's orphan `_SCHEMAS` action files. */
class Round11Spec extends SparkTestBase {
  import spark.implicits._

  private def graftRead(root: String, fq: String): DataFrame =
    spark.read.format("graft").option("root", root).option("table", fq).load()

  test("rename targeting a live logical name is rejected loudly") {
    val root = tempDir("r11_renrej")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.RENREJ"
    cat.overwrite(t, Seq((1L, 2L)).toDF("a", "b"))
    intercept[IllegalArgumentException] { cat.alterRenameColumn(t, "a", "b") }
  }

  test("3-cycle rename permutation (a->b, c->a, b->c via temp) reads " +
      "and writes correctly") {
    val root = tempDir("r11_swap")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.SWAP"
    cat.overwrite(t, Seq((1L, 2L, 3L)).toDF("a", "b", "c"))
    // rotate logical names one step: value that was under `a` must
    // surface under `b`, b's under `c`, c's under `a`
    cat.alterRenameColumn(t, "a", "t0")
    cat.alterRenameColumn(t, "c", "a")
    cat.alterRenameColumn(t, "b", "c")
    cat.alterRenameColumn(t, "t0", "b")
    val viaCat = cat.read(t).select("a", "b", "c").collect()(0)
    assert((viaCat.getLong(0), viaCat.getLong(1), viaCat.getLong(2)) ==
      ((3L, 1L, 2L)), "catalog read resolves the swap-shaped mapping")
    val viaConn = graftRead(root, t).select("a", "b", "c").collect()(0)
    assert((viaConn.getLong(0), viaConn.getLong(1), viaConn.getLong(2)) ==
      ((3L, 1L, 2L)), "connector read resolves the swap-shaped mapping")
    // the write-side inverse: an append under the LOGICAL names lands
    // in the correct physical columns and reads back intact
    cat.append(t, Seq((30L, 10L, 20L)).toDF("a", "b", "c"))
    val rows = cat.read(t).select("a", "b", "c")
      .orderBy("b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((3L, 1L, 2L), (30L, 10L, 20L)))
    // pushed filter on a swapped name still selects the right rows
    assert(graftRead(root, t).filter(col("a") === 30L).count() == 1L)
  }

  test("flat chain checkpoints every Nth commit: explicit manifest, " +
      "vacuum reclaims fully-retired pre-checkpoint dirs") {
    val root = tempDir("r11_ckpt")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CKPT"
    spark.conf.set("graft.flatCheckpointInterval", "4")
    try {
      cat.overwrite(t, (1L to 10L).map(i => (i, 0L)).toDF("k", "b")) // v0
      (1 to 6).foreach(b => cat.append(t, // v1..v6 (v4 = checkpoint)
        (1L to 10L).map(i => (i, b.toLong)).toDF("k", "b")))
      def manifest(v: Int): Seq[String] = {
        val p = java.nio.file.Paths.get(root, "D", "S", "CKPT",
          f"v_$v%06d", "_MANIFEST")
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
          .filter(_.nonEmpty)
      }
      val isRef = (l: String) => l.matches(".*/v_\\d{6}$")
      assert(manifest(4).count(isRef) == 1 &&
          manifest(4).count(l => !isRef(l)) >= 4,
        "checkpoint = one history ref + the explicit resolved file list")
      assert(manifest(5).size == 1 && isRef(manifest(5).head),
        "non-checkpoint versions keep the O(1) back-reference")
      assert(cat.read(t).count() == 70L)
      // history BEFORE the checkpoint stays time-travelable until an
      // explicit vacuum (the commit-time pruner walks through refs)
      assert(cat.readVersion(t, 2).count() == 30L)
      // retire v0's file entirely (COW delete of its rows), then cross
      // the next checkpoint: the chain walk now stops there, so the
      // fully-retired v0 dir becomes vacuumable — previously the flat
      // reference chain pinned EVERY link dir back to the base forever
      cat.deleteWhere(t, col("b") === 0L)                      // v7
      cat.append(t, Seq((99L, 9L)).toDF("k", "b"))             // v8 = ckpt
      assert(cat.read(t).count() == 61L)
      val removed = cat.vacuum(t, keepVersions = 1)
      assert(removed.contains("v_000000"),
        s"fully-retired pre-checkpoint dir must be reclaimed ($removed)")
      assert(cat.read(t).count() == 61L, "post-vacuum read intact")
      assert(cat.read(t).filter(col("b") === 3L).count() == 10L)
    } finally spark.conf.unset("graft.flatCheckpointInterval")
  }

  private def rootCause(t: Throwable): String = {
    var c: Throwable = t
    val sb = new StringBuilder(String.valueOf(c.getMessage))
    while (c.getCause != null) { c = c.getCause; sb.append(" | ").append(c.getMessage) }
    sb.toString
  }

  test("NOT NULL + CHECK constraints enforce on append/update/merge") {
    val root = tempDir("r11_cstr")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CSTR"
    cat.overwrite(t, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
    cat.alterAddNotNull(t, "v")
    cat.alterAddCheck(t, "ck_pos", "v >= 0")
    cat.append(t, Seq((3L, 30.0)).toDF("k", "v")) // valid
    assert(cat.read(t).count() == 3L)
    val e1 = intercept[Throwable] {
      cat.append(t, Seq((4L, null.asInstanceOf[java.lang.Double]))
        .toDF("k", "v"))
    }
    assert(rootCause(e1).contains("NOT NULL"), rootCause(e1))
    val e2 = intercept[Throwable] {
      cat.append(t, Seq((5L, -5.0)).toDF("k", "v"))
    }
    assert(rootCause(e2).contains("CHECK"), rootCause(e2))
    assert(cat.read(t).count() == 3L, "failed appends must not commit")
    val e3 = intercept[Throwable] {
      cat.updateWhere(t, Map("v" -> lit(-1.0)), col("k") === 1L)
    }
    assert(rootCause(e3).contains("CHECK"), rootCause(e3))
    assert(cat.read(t).filter(col("v") < 0).count() == 0L)
    val e4 = intercept[Throwable] {
      cat.merge(t, Seq((1L, -9.0)).toDF("k", "v"), Seq("k"))
    }
    assert(rootCause(e4).contains("CHECK"), rootCause(e4))
    // DDL-time validation: existing rows must satisfy a new constraint
    intercept[IllegalArgumentException] {
      cat.alterAddCheck(t, "ck_big", "v >= 1000")
    }
    // drop → the previously-violating write lands
    cat.alterDropConstraint(t, "ck_pos")
    cat.append(t, Seq((5L, -5.0)).toDF("k", "v"))
    assert(cat.read(t).count() == 4L)
  }

  test("constraints are mapping-aware: NOT NULL survives rename, " +
      "rename of a CHECK-referenced column is rejected") {
    val root = tempDir("r11_cstrmap")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CSTRM"
    cat.overwrite(t, Seq((1L, 10.0)).toDF("k", "v"))
    cat.alterAddNotNull(t, "v")
    cat.alterRenameColumn(t, "v", "price") // NOT NULL keys by physical
    val e = intercept[Throwable] {
      cat.append(t, Seq((2L, null.asInstanceOf[java.lang.Double]))
        .toDF("k", "price"))
    }
    assert(rootCause(e).contains("NOT NULL"), rootCause(e))
    cat.append(t, Seq((2L, 5.0)).toDF("k", "price"))
    assert(cat.read(t).count() == 2L)
    cat.alterAddCheck(t, "ck_p", "price >= 0")
    intercept[IllegalArgumentException] {
      cat.alterRenameColumn(t, "price", "cost")
    }
    intercept[IllegalArgumentException] { cat.alterDropColumns(t, Seq("price")) }
    cat.alterDropConstraint(t, "ck_p")
    cat.alterRenameColumn(t, "price", "cost") // now allowed
    assert(cat.read(t).columns.contains("cost"))
  }

  test("DSv2 write path enforces constraints per row (no extra scan)") {
    val root = tempDir("r11_cstrdsv2")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CSTRW"
    cat.overwrite(t, Seq((1L, 10.0)).toDF("k", "v"))
    cat.alterAddNotNull(t, "v")
    cat.alterAddCheck(t, "ck_pos", "v >= 0")
    def dsv2Append(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("graft").option("root", root).option("table", t)
        .mode("append").save()
    dsv2Append(Seq((2L, 2.0)).toDF("k", "v"))
    assert(cat.read(t).count() == 2L)
    val e1 = intercept[Throwable] {
      dsv2Append(Seq((3L, null.asInstanceOf[java.lang.Double])).toDF("k", "v"))
    }
    assert(rootCause(e1).contains("NOT NULL"), rootCause(e1))
    val e2 = intercept[Throwable] { dsv2Append(Seq((3L, -1.0)).toDF("k", "v")) }
    assert(rootCause(e2).contains("CHECK"), rootCause(e2))
    assert(cat.read(t).count() == 2L, "failed DSv2 writes must not commit")
  }

  test("rebucket rewrites the layout (count/key change); mixed-spec " +
      "chains are impossible") {
    val root = tempDir("r11_rebucket")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.REB"
    val df = (1L to 400L).map(i => (i, i % 17, s"v$i")).toDF("k", "g", "v")
    cat.overwriteBucketed(t, df, "k", 8)
    cat.appendBucketed(t, Seq((401L, 401L % 17, "v401")).toDF("k", "g", "v"))
    assert(cat.read(t).count() == 401L)
    val vOld = cat.version(t).get
    // count change
    cat.rebucket(t, "k", 4)
    assert(cat.snapshot(t, cat.version(t).get).bucketSpec.contains(("k", 4)))
    assert(cat.read(t).count() == 401L)
    assert(cat.read(t).agg(sum("k")).collect()(0).getLong(0) ==
      (1L to 401L).sum)
    // the immediately-prior version reads under its OWN (old) spec —
    // a rewrite keeps one back for in-flight readers
    assert(cat.readVersion(t, vOld).count() == 401L)
    assert(cat.snapshot(t, vOld).bucketSpec.contains(("k", 8)))
    // appends route under the NEW spec
    cat.appendBucketed(t, Seq((402L, 402L % 17, "v402")).toDF("k", "g", "v"))
    assert(cat.read(t).count() == 402L)
    // key change is a rewrite too
    cat.rebucket(t, "g", 8)
    assert(cat.snapshot(t, cat.version(t).get).bucketSpec.contains(("g", 8)))
    assert(cat.read(t).count() == 402L)
    // silently evolving a bucketed chain to a plain layout is rejected
    val e = intercept[IllegalArgumentException] {
      cat.appendEvolvePartitioning(t, Seq((9L, 9L, "x")).toDF("k", "g", "v"),
        Seq("g"))
    }
    assert(e.getMessage.contains("rebucket"))
  }

  test("type widening on append: int->long / float->double; " +
      "incompatible types rejected") {
    val root = tempDir("r11_widen")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.WIDE"
    cat.overwrite(t, Seq((1, 1.5f), (2, 2.5f)).toDF("k", "x"))
    assert(cat.read(t).schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // wider incoming: the chain WIDENS — old int32/float files promote
    // at decode time under the union schema
    cat.append(t, Seq((3000000000L, 3.5)).toDF("k", "x"))
    val s = cat.read(t).schema
    assert(s("k").dataType == org.apache.spark.sql.types.LongType)
    assert(s("x").dataType == org.apache.spark.sql.types.DoubleType)
    val r = cat.read(t).agg(sum("k"), sum("x")).collect()(0)
    assert(r.getLong(0) == 3000000003L)
    assert(math.abs(r.getDouble(1) - 7.5) < 1e-9)
    // narrower incoming after the widening: upcasts into the chain type
    cat.append(t, Seq((4, 4.0f)).toDF("k", "x"))
    assert(cat.read(t).count() == 4L)
    assert(cat.read(t).agg(sum("k")).collect()(0).getLong(0) == 3000000007L)
    // the connector (vectorized) path reads the widened chain too
    val conn = spark.read.format("graft")
      .option("root", root).option("table", t).load()
    assert(conn.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(conn.agg(sum("k")).collect()(0).getLong(0) == 3000000007L)
    assert(conn.filter(col("k") === 3000000000L).count() == 1L)
    // COW mutators read the mixed chain correctly (explicit schema)
    cat.updateWhere(t, Map("x" -> lit(9.0)), col("k") === 2L)
    assert(cat.read(t).filter(col("x") === 9.0).count() == 1L)
    assert(cat.read(t).agg(sum("k")).collect()(0).getLong(0) == 3000000007L)
    // bloom build and the net-diff change reader handle the mix too
    assert(cat.buildBloomIndex(t, "k") > 0)
    assert(cat.readChanges(t, 0, cat.version(t).get)
      .filter(col("_change_type") === "insert").count() >= 3L)
    // incompatible type change rejects loudly at write time
    val e = intercept[Throwable] {
      cat.append(t, Seq(("oops", 1.0)).toDF("k", "x"))
    }
    assert(rootCause(e).contains("widen"), rootCause(e))
    // DSv2 append widens the same way and rejects the same way
    Seq((5L, 5.0)).toDF("k", "x").write.format("graft")
      .option("root", root).option("table", t).mode("append").save()
    assert(cat.read(t).count() == 5L)
    intercept[Throwable] {
      Seq(("bad", 1.0)).toDF("k", "x").write.format("graft")
        .option("root", root).option("table", t).mode("append").save()
    }
  }

  test("type widening composes with column mapping (rename then widen)") {
    val root = tempDir("r11_widenmap")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.WIDEM"
    cat.overwrite(t, Seq((1, "a")).toDF("n", "v"))
    cat.alterRenameColumn(t, "n", "id")
    cat.append(t, Seq((3000000000L, "b")).toDF("id", "v"))
    val df = cat.read(t)
    assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(df.agg(sum("id")).collect()(0).getLong(0) == 3000000001L)
  }

  test("SQL ALTER TABLE ADD/DROP CONSTRAINT CHECK enforces through the " +
      "catalog") {
    val root = tempDir("r11_sqlcstr")
    spark.conf.set("spark.sql.catalog.gc_r11", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_r11.root", root)
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").createOrReplaceTempView("r11src")
    spark.sql("CREATE TABLE gc_r11.d.s.ct AS SELECT * FROM r11src")
    spark.sql(
      "ALTER TABLE gc_r11.d.s.ct ADD CONSTRAINT ck_pos CHECK (v >= 0)")
    spark.sql("INSERT INTO gc_r11.d.s.ct VALUES (3, 30.0)") // valid
    assert(spark.sql("SELECT count(*) FROM gc_r11.d.s.ct")
      .collect()(0).getLong(0) == 3L)
    val e = intercept[Throwable] {
      spark.sql("INSERT INTO gc_r11.d.s.ct VALUES (4, -1.0)")
    }
    assert(rootCause(e).contains("CHECK"), rootCause(e))
    assert(spark.sql("SELECT count(*) FROM gc_r11.d.s.ct")
      .collect()(0).getLong(0) == 3L, "violating INSERT must not commit")
    // adding a constraint existing rows violate is rejected at DDL time
    intercept[Throwable] {
      spark.sql("ALTER TABLE gc_r11.d.s.ct ADD CONSTRAINT ck_big CHECK (v >= 1000)")
    }
    // SQL UPDATE / MERGE replacement rows enforce too (the delta write)
    spark.sql("UPDATE gc_r11.d.s.ct SET v = 7.0 WHERE k = 1") // valid
    assert(spark.sql("SELECT v FROM gc_r11.d.s.ct WHERE k = 1")
      .collect()(0).getDouble(0) == 7.0)
    val eu = intercept[Throwable] {
      spark.sql("UPDATE gc_r11.d.s.ct SET v = -7.0 WHERE k = 1")
    }
    assert(rootCause(eu).contains("CHECK"), rootCause(eu))
    assert(spark.sql("SELECT count(*) FROM gc_r11.d.s.ct WHERE v < 0")
      .collect()(0).getLong(0) == 0L)
    spark.sql("ALTER TABLE gc_r11.d.s.ct DROP CONSTRAINT ck_pos")
    spark.sql("INSERT INTO gc_r11.d.s.ct VALUES (4, -1.0)") // now lands
    assert(spark.sql("SELECT count(*) FROM gc_r11.d.s.ct")
      .collect()(0).getLong(0) == 4L)
    // DROP NOT NULL (SQL) removes a catalog-declared NOT NULL; SET NOT
    // NULL is blocked upstream by Spark's analyzer for nullable v2
    // columns, so declaration stays a catalog API (alterAddNotNull)
    val root2 = root // same catalog root; direct catalog handle
    val cat2 = new TableCatalog(spark, root2)
    cat2.alterAddNotNull("d.s.ct", "v")
    val en = intercept[Throwable] {
      spark.sql("INSERT INTO gc_r11.d.s.ct VALUES (9, CAST(NULL AS DOUBLE))")
    }
    assert(rootCause(en).contains("NOT NULL"), rootCause(en))
    spark.sql("ALTER TABLE gc_r11.d.s.ct ALTER COLUMN v DROP NOT NULL")
    spark.sql("INSERT INTO gc_r11.d.s.ct VALUES (9, CAST(NULL AS DOUBLE))")
    assert(spark.sql("SELECT count(*) FROM gc_r11.d.s.ct WHERE v IS NULL")
      .collect()(0).getLong(0) == 1L)
    // CREATE TABLE with an inline constraint clause records it too
    spark.sql("CREATE TABLE gc_r11.d.s.ct2 (k BIGINT, v DOUBLE, " +
      "CONSTRAINT ck2 CHECK (v < 100))")
    spark.sql("INSERT INTO gc_r11.d.s.ct2 VALUES (1, 5.0)")
    val e2 = intercept[Throwable] {
      spark.sql("INSERT INTO gc_r11.d.s.ct2 VALUES (2, 500.0)")
    }
    assert(rootCause(e2).contains("CHECK"), rootCause(e2))
    assert(spark.sql("SELECT count(*) FROM gc_r11.d.s.ct2")
      .collect()(0).getLong(0) == 1L)
  }

  test("widening into a hive-partitioned chain reads exactly: each " +
      "version group is uniform, the union resolves to the widest") {
    val root = tempDir("r11_widenpart")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.WIDEP"
    cat.overwritePartitioned(t,
      Seq((1, "a"), (2, "b")).toDF("k", "p"), Seq("p"))
    // narrower-or-equal appends upcast to the table type: fine
    cat.append(t, Seq((3, "a")).toDF("k", "p"))
    assert(cat.read(t).count() == 3L)
    // a WIDER append widens the chain in place (round 12): old int
    // files promote at decode, new files carry long
    cat.append(t, Seq((9000000000L, "c")).toDF("k", "p"))
    val viaCat = cat.read(t)
    assert(viaCat.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(viaCat.agg(sum("k")).collect()(0).getLong(0) == 9000000006L)
    // connector read agrees, and partition pruning still applies
    val viaConn = spark.read.format("graft")
      .option("root", root).option("table", t).load()
    assert(viaConn.agg(sum("k")).collect()(0).getLong(0) == 9000000006L)
    assert(viaConn.filter(col("p") === "c").collect()
      .map(_.getLong(0)).toSeq == Seq(9000000000L))
    // COW update through the widened chain stays exact
    cat.updateWhere(t, Map("k" -> (col("k") + lit(1L))), col("p") === "a")
    assert(cat.read(t).agg(sum("k")).collect()(0).getLong(0) == 9000000008L)
  }

  test("streaming sink enforces constraints per row") {
    val root = tempDir("r11_cstream")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CSTRS"
    cat.overwrite(t, Seq((1L, 1.0)).toDF("k", "v"))
    cat.alterAddCheck(t, "ck_pos", "v >= 0")
    val srcDir = tempDir("r11_cstream_src")
    Seq((2L, 2.0), (3L, -3.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(srcDir)
    val q = spark.readStream
      .schema("k LONG, v DOUBLE").parquet(srcDir)
      .writeStream.format("graft")
      .option("root", root).option("table", t)
      .option("checkpointLocation", tempDir("r11_cstream_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val failed =
      try { q.awaitTermination(120000); false }
      catch { case e: Throwable => rootCause(e).contains("CHECK") }
    assert(failed, "the violating epoch must fail the stream")
    assert(cat.read(t).count() == 1L, "no partial epoch commits")
  }

  test("change feed and streaming source stay exact across checkpoint " +
      "commits") {
    val root = tempDir("r11_ckptcdf")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.CKCDF"
    spark.conf.set("graft.flatCheckpointInterval", "4")
    try {
      cat.overwrite(t, Seq((0L, 0L)).toDF("k", "b")) // v0
      (1 to 9).foreach(b => cat.append(t, // v1..v9: checkpoints at v4, v8
        Seq((b.toLong, b.toLong)).toDF("k", "b")))
      // the feed walks per-commit file DIFFS: a checkpoint's explicit
      // manifest must contribute exactly its own adds, not re-emit the
      // whole resolved list as inserts
      val cdf = spark.read.format("graft")
        .option("root", root).option("table", t)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1").load()
      val ins = cdf.filter(col("_change_type") === "insert")
      assert(ins.count() == 9L, "one insert per append, checkpoints included")
      assert(ins.filter(col("_commit_version") === 4).count() == 1L)
      assert(ins.filter(col("_commit_version") === 8).count() == 1L)
      // the streaming source sees the same bounded diffs
      val sizes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val q = spark.readStream.format("graft")
        .option("root", root).option("table", t).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          sizes.add(df.count()); ()
        }
        .option("checkpointLocation", tempDir("r11_ckptcdf_ck"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val total = { var s = 0L; val it = sizes.iterator()
        while (it.hasNext) s += it.next(); s }
      assert(total == 10L, s"snapshot batch must deliver all rows ($total)")
    } finally spark.conf.unset("graft.flatCheckpointInterval")
  }

  test("crash recovery clears a died ALTER's orphan _SCHEMAS action") {
    val root = tempDir("r11_orphan")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.ORPH"
    cat.overwrite(t, Seq((1L, 2L)).toDF("a", "b")) // v0
    // simulate an ALTER that wrote its action for v1 and died before
    // the pointer swap: the orphan must NOT apply to the next
    // unrelated commit that reuses version number 1
    val schemas = java.nio.file.Paths.get(root, "D", "S", "ORPH", "_SCHEMAS")
    java.nio.file.Files.createDirectories(schemas)
    java.nio.file.Files.write(schemas.resolve("v000001_000000.rename"),
      "a\tzzz".getBytes("UTF-8"))
    cat.append(t, Seq((3L, 4L)).toDF("a", "b")) // commits v1
    val cols = cat.read(t).columns.toSeq
    assert(cols == Seq("a", "b"),
      s"orphan rename must not apply to the unrelated commit (got $cols)")
    assert(cat.read(t).agg(sum("a")).collect()(0).getLong(0) == 4L)
  }
}
