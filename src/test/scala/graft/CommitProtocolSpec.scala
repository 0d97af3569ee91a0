package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** The commit paths behind the SQL catalog's row-level operations and
  * REPLACE WHERE, and the catalog mutators they share state with. */
class CommitProtocolSpec extends SparkTestBase {
  import spark.implicits._

  test("SQL UPDATE/DELETE and REPLACE WHERE checkpoint a flat chain every Nth commit") {
    val root = tempDir("cp_sqlckpt")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.SQLCKPT"
    val gc = "cp_sqlckpt"
    spark.conf.set("graft.flatCheckpointInterval", "4")
    spark.conf.set(s"spark.sql.catalog.$gc", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$gc.root", root)
    val sqlT = s"$gc.$t"
    try {
      var model = (1L to 20L).map(k => k -> 0L).toMap
      cat.overwrite(t, model.toSeq.toDF("k", "b").repartition(2)) // v0
      val snaps = scala.collection.mutable.Map(0 -> model)
      def replace(lo: Long, hi: Long, rows: Seq[(Long, Long)]): Unit = {
        rows.toDF("k", "b").writeTo(sqlT).overwrite(col("k") >= lo && col("k") < hi)
        model = model.filter { case (k, _) => k < lo || k >= hi } ++ rows
      }
      // v1..v8: every commit goes through the connector's commitDelta
      spark.sql(s"UPDATE $sqlT SET b = b + 1 WHERE k <= 5")
      model = model.map { case (k, b) => k -> (if (k <= 5) b + 1 else b) }
      snaps(1) = model
      spark.sql(s"DELETE FROM $sqlT WHERE pmod(k, 7) = 0")
      model = model.filter { case (k, _) => k % 7 != 0 }
      snaps(2) = model
      replace(18L, 21L, Seq((18L, 30L), (19L, 30L)))
      spark.sql(s"UPDATE $sqlT SET b = b + 10 WHERE pmod(k, 3) = 0") // v4
      model = model.map { case (k, b) => k -> (if (k % 3 == 0) b + 10 else b) }
      snaps(4) = model
      spark.sql(s"DELETE FROM $sqlT WHERE pmod(k, 5) = 1")
      model = model.filter { case (k, _) => k % 5 != 1 }
      replace(2L, 4L, Seq((2L, 40L)))
      spark.sql(s"UPDATE $sqlT SET b = b * 2 WHERE k > 15")
      model = model.map { case (k, b) => k -> (if (k > 15) b * 2 else b) }
      replace(9L, 10L, Seq((9L, 50L)))                                 // v8
      assert(cat.version(t).contains(8))

      def manifest(v: Int): Seq[String] = {
        val p = java.nio.file.Paths.get(root, "D", "S", "SQLCKPT",
          f"v_$v%06d", "_MANIFEST")
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq.filter(_.nonEmpty)
      }
      val isRef = (l: String) => l.matches(".*/v_\\d{6}$")
      def bare(p: String) = new Path(p).toUri.getPath
      for (v <- Seq(4, 8)) {
        val (refs, listed) = manifest(v).partition(isRef)
        assert(refs.map(bare) == Seq(bare(f"$root/D/S/SQLCKPT/v_${v - 1}%06d")),
          s"v$v: one history reference to v${v - 1}")
        assert(listed.map(bare).sorted ==
          cat.snapshot(t, v - 1).files.map(_.path).map(bare).sorted,
          s"v$v: checkpoint lists v${v - 1}'s resolved files explicitly")
      }
      assert(manifest(5).size == 1 && isRef(manifest(5).head),
        "non-checkpoint versions keep the O(1) back-reference")

      def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.as[(Long, Long)].collect().toMap
      assert(rows(cat.read(t).select("k", "b")) == model)
      assert(rows(cat.readVersion(t, 2).select("k", "b")) == snaps(2))
      assert(rows(cat.readVersion(t, 4).select("k", "b")) == snaps(4))
    } finally {
      spark.conf.unset("graft.flatCheckpointInterval")
      spark.conf.unset(s"spark.sql.catalog.$gc")
      spark.conf.unset(s"spark.sql.catalog.$gc.root")
    }
  }

  test("merge after a column is dropped and re-added upserts the declared column") {
    val cat = new TableCatalog(spark, tempDir("cp_merge_decl"))
    val t = "D.S.MDECL"
    cat.overwrite(t, Seq((1L, 10L, 1.0, "a"), (2L, 20L, 2.0, "b"))
      .toDF("id", "qty", "price", "tag"))
    cat.alterDropColumns(t, Seq("price"))
    cat.alterAddColumns(t, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DoubleType))))
    // no file carries the re-added column: the merge base must surface
    // it (as NULL) for the by-name upsert against a source carrying it
    cat.merge(t, Seq((1L, 11L, 5.0, "a2"), (3L, 30L, 3.0, "c"))
      .toDF("id", "qty", "price", "tag"), Seq("id"))
    val got = cat.read(t).select("id", "qty", "price", "tag").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 11L, Some(5.0), "a2"), (2L, 20L, None, "b"),
      (3L, 30L, Some(3.0), "c")))
  }

  test("SQL row-level DELETE on a table with CHECK and NOT NULL constraints") {
    val root = tempDir("cp_del_ck")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.DELCK"
    val gc = "cp_del_ck"
    spark.conf.set(s"spark.sql.catalog.$gc", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$gc.root", root)
    try {
      cat.overwrite(t, (1L to 10L).map(k => (k, k * 2)).toDF("k", "v"))
      cat.alterAddCheck(t, "v_pos", "v >= 0")
      cat.alterAddNotNull(t, "v")
      // a DELETE stages no replacement rows: nothing to check, so its
      // (empty) row schema must not be bound against the constraints
      spark.sql(s"DELETE FROM $gc.$t WHERE pmod(k, 2) = 0")
      assert(cat.read(t).select("k").as[Long].collect().sorted.toSeq ==
        Seq(1L, 3L, 5L, 7L, 9L))
      // the constraints still hold for rows that carry data
      intercept[Exception] {
        spark.sql(s"UPDATE $gc.$t SET v = -1 WHERE k = 1")
      }
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$gc")
      spark.conf.unset(s"spark.sql.catalog.$gc.root")
    }
  }

  test("concurrent writes through one catalog all write MICROS timestamps and restore the session setting") {
    val cat = new TableCatalog(spark, tempDir("cp_micros"))
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    val frames = (0 until 4).map(t => (0 until 3).map(i =>
      Seq((t * 10L + i, new java.sql.Timestamp(1700000000000L + i))).toDF("k", "ts")))
    val barrier = new java.util.concurrent.CyclicBarrier(frames.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = frames.zipWithIndex.map { case (dfs, t) =>
      new Thread(() =>
        try { barrier.await(); dfs.foreach(cat.append(s"D.S.TS$t", _)) }
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs)
    assert(spark.conf.getOption(key) == before)
    val footers = frames.indices.flatMap(t => cat.dataFilePaths(s"D.S.TS$t"))
      .map(f => graft.connector.GraftParquetIO.fileSchema(f,
        spark.sparkContext.hadoopConfiguration).getFields.get(1).asPrimitiveType())
    assert(footers.size == 12)
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    footers.foreach { ts =>
      assert(ts.getPrimitiveTypeName ==
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64, ts)
      assert(ts.getLogicalTypeAnnotation match {
        case a: TimestampLogicalTypeAnnotation => a.getUnit == TimeUnit.MICROS
        case _ => false
      }, ts)
    }
  }
}
