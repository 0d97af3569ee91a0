package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** Round-12 fixes: bucket routing survives a narrower-typed append,
  * NOT NULL constraints resolve by physical binding across renames,
  * constraints survive (and enforce on) data overwrites, backquoted
  * CHECK references pin their columns, and CREATE TABLE constraints
  * commit atomically with v0. */
class Round12Spec extends SparkTestBase {
  import spark.implicits._

  private def graftRead(root: String, fq: String): DataFrame =
    spark.read.format("graft").option("root", root).option("table", fq).load()

  // ---- bucket routing × type alignment ----------------------------------

  test("appendBucketed with a narrower-typed bucket column routes by " +
      "the table type — bucket-pruned lookups still find the rows") {
    val root = tempDir("r12_bktnarrow")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.BKT_NARROW"
    // table keys are LONG; 8 buckets
    cat.overwriteBucketed(t,
      (1L to 64L).map(i => (i, s"base$i")).toDF("k", "v"), "k", 8)
    // incoming frame carries k as INT (narrower): murmur3(int) and
    // murmur3(long) differ, so routing must hash the UPCAST value
    val narrow = Seq((1001, "new1"), (1002, "new2"), (1003, "new3"))
      .toDF("k", "v")
    assert(narrow.schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    cat.appendBucketed(t, narrow)
    // full scan sees them…
    assert(cat.read(t).count() == 67)
    // …and so does a bucket-PRUNED point lookup through the connector
    // (the reader hashes the predicate value in the table type; a
    // wrong-bucket row silently vanishes from this path)
    Seq(1001L, 1002L, 1003L).foreach { k =>
      val hit = graftRead(root, t).filter(col("k") === k).collect()
      assert(hit.length == 1, s"bucket-pruned lookup must find k=$k")
      assert(hit(0).getString(1) == s"new${k - 1000}")
    }
    // routing column on disk agrees with pmod(hash(CAST(k AS LONG)), 8)
    val expected = spark.sql(
      "SELECT pmod(hash(CAST(1001 AS BIGINT)), 8)").collect()(0).getInt(0)
    val dirs = new java.io.File(s"$root/D/S/BKT_NARROW")
      .listFiles().filter(_.getName.startsWith("v_")).map(_.getName).sorted
    val files = new java.io.File(
      s"$root/D/S/BKT_NARROW/${dirs.last}/gbucket=$expected")
    assert(files.exists, s"rows must land in gbucket=$expected")
  }

  // ---- NOT NULL × rename --------------------------------------------------

  test("DROP NOT NULL resolves the constraint by physical column " +
      "after a rename; SET NOT NULL does not stack a duplicate") {
    val root = tempDir("r12_nnren")
    spark.conf.set("spark.sql.catalog.gc_r12nn", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_r12nn.root", root)
    val cat = new TableCatalog(spark, root)
    try {
      spark.sql("CREATE TABLE gc_r12nn.d.s.nnren (id BIGINT, em STRING) USING graft")
      spark.sql("INSERT INTO gc_r12nn.d.s.nnren VALUES (1, 'a'), (2, 'b')")
      val t = "d.s.nnren"
      // Spark's analyzer rejects SET NOT NULL on v2 ALTER COLUMN, so
      // the add goes through the catalog API (the SQL face is DROP)
      cat.alterAddNotNull(t, "em")
      spark.sql("ALTER TABLE gc_r12nn.d.s.nnren RENAME COLUMN em TO email")
      val v0 = cat.version(t).get
      assert(cat.snapshot(t, v0).constraints.count(_.kind == "notnull") == 1)
      // re-adding under the NEW name must not stack a second constraint
      val dup = intercept[IllegalArgumentException] {
        cat.alterAddNotNull(t, "email")
      }
      assert(dup.getMessage.contains("nn_em"),
        "duplicate add must resolve the existing constraint by binding")
      // DROP under the NEW name must actually remove it…
      spark.sql("ALTER TABLE gc_r12nn.d.s.nnren ALTER COLUMN email DROP NOT NULL")
      val v1 = cat.version(t).get
      assert(cat.snapshot(t, v1).constraints.isEmpty,
        "post-rename DROP NOT NULL must resolve the nn_em constraint")
      // …so a null insert now passes
      spark.sql("INSERT INTO gc_r12nn.d.s.nnren VALUES (3, NULL)")
      assert(spark.sql(
        "SELECT count(*) FROM gc_r12nn.d.s.nnren WHERE email IS NULL")
        .collect()(0).getLong(0) == 1)
    } finally spark.conf.unset("spark.sql.catalog.gc_r12nn")
  }

  // ---- constraints × data overwrite --------------------------------------

  test("constraints survive a data overwrite and enforce on the " +
      "replacement rows (catalog path)") {
    val root = tempDir("r12_ovct")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.OVCT"
    cat.overwrite(t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"))
    cat.alterAddCheck(t, "price_pos", "price >= 0")
    cat.alterAddNotNull(t, "id")
    // a VIOLATING overwrite rejects (enforced on replacement rows)
    intercept[Exception] {
      cat.overwrite(t, Seq((3L, -5.0)).toDF("id", "price"))
    }
    intercept[Exception] { // null id
      cat.overwrite(t,
        Seq((Option.empty[Long], 5.0)).toDF("id", "price"))
    }
    // a clean overwrite lands AND the constraints survive it
    cat.overwrite(t, Seq((7L, 70.0)).toDF("id", "price"))
    val v = cat.version(t).get
    assert(cat.snapshot(t, v).constraints.map(_.kind).sorted == Seq("check", "notnull"),
      "constraints must ride a data-only overwrite")
    // …still enforced on the NEXT append
    intercept[Exception] {
      cat.append(t, Seq((8L, -1.0)).toDF("id", "price"))
    }
    assert(cat.read(t).count() == 1)
  }

  test("INSERT OVERWRITE keeps constraints and rejects violating " +
      "replacement rows; REPLACE TABLE drops them (SQL path)") {
    val root = tempDir("r12_sqlov")
    spark.conf.set("spark.sql.catalog.gc_r12ov", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_r12ov.root", root)
    val cat = new TableCatalog(spark, root)
    try {
      spark.sql("CREATE TABLE gc_r12ov.d.s.ov (id BIGINT, price DOUBLE) USING graft")
      spark.sql("INSERT INTO gc_r12ov.d.s.ov VALUES (1, 10.0)")
      spark.sql("ALTER TABLE gc_r12ov.d.s.ov ADD CONSTRAINT pp CHECK (price >= 0)")
      // violating INSERT OVERWRITE rejects
      intercept[Exception] {
        spark.sql("INSERT OVERWRITE gc_r12ov.d.s.ov VALUES (2, -3.0)")
      }
      // clean INSERT OVERWRITE lands, constraint survives
      spark.sql("INSERT OVERWRITE gc_r12ov.d.s.ov VALUES (3, 30.0)")
      assert(cat.snapshot("d.s.ov", cat.version("d.s.ov").get).constraints
        .exists(_.name == "pp"), "INSERT OVERWRITE must keep constraints")
      intercept[Exception] {
        spark.sql("INSERT INTO gc_r12ov.d.s.ov VALUES (4, -1.0)")
      }
      // REPLACE TABLE is schema-replacing: constraints drop with it
      spark.sql("REPLACE TABLE gc_r12ov.d.s.ov USING graft AS " +
        "SELECT 5L AS id, CAST(-9.0 AS DOUBLE) AS price")
      assert(cat.snapshot("d.s.ov", cat.version("d.s.ov").get).constraints.isEmpty,
        "REPLACE TABLE must drop prior constraints")
      spark.sql("INSERT INTO gc_r12ov.d.s.ov VALUES (6, -1.0)") // now fine
      assert(spark.sql("SELECT count(*) FROM gc_r12ov.d.s.ov")
        .collect()(0).getLong(0) == 2)
    } finally spark.conf.unset("spark.sql.catalog.gc_r12ov")
  }

  test("overwrite whose schema cannot satisfy a surviving constraint " +
      "rejects loudly instead of erasing it") {
    val root = tempDir("r12_ovdrop")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.OVDROP"
    cat.overwrite(t, Seq((1L, 10.0)).toDF("id", "price"))
    cat.alterAddCheck(t, "price_pos", "price >= 0")
    val e = intercept[IllegalArgumentException] {
      cat.overwrite(t, Seq((1L, "x")).toDF("id", "name")) // no price col
    }
    assert(e.getMessage.contains("price_pos"))
    // table unchanged, constraint still active
    assert(cat.read(t).count() == 1)
    assert(cat.snapshot(t, cat.version(t).get).constraints.nonEmpty)
  }

  // ---- CHECK text hygiene -------------------------------------------------

  test("a CHECK written with backquoted identifiers pins its column " +
      "against rename/drop") {
    val root = tempDir("r12_btick")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.BTICK"
    cat.overwrite(t, Seq((1L, 10.0)).toDF("id", "price"))
    cat.alterAddCheck(t, "pp", "`price` >= 0")
    intercept[Exception] { cat.alterRenameColumn(t, "price", "cost") }
    intercept[Exception] { cat.alterDropColumns(t, Seq("price")) }
    cat.alterDropConstraint(t, "pp")
    cat.alterRenameColumn(t, "price", "cost") // now fine
    assert(cat.read(t).columns.toSeq.contains("cost"))
  }

  // ---- widened widening matrix --------------------------------------------

  test("type widening matrix: short->int->long, int->double, decimal " +
      "growth, int->decimal — all in place, old files promote at decode") {
    import org.apache.spark.sql.types._
    val root = tempDir("r12_widen")
    val cat = new TableCatalog(spark, root)

    def mk(vals: Seq[Any], t: DataType): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(vals.map(Row(_)), 1),
        StructType(Seq(StructField("x", t))))

    // integral ladder: short -> int -> long across three appends
    val ti = "D.S.WIDE_I"
    cat.overwrite(ti, mk(Seq(1.toShort, 2.toShort), ShortType))
    cat.append(ti, mk(Seq(100000), IntegerType))
    cat.append(ti, mk(Seq(9000000000L), LongType))
    val ri = cat.read(ti)
    assert(ri.schema("x").dataType == LongType)
    assert(ri.agg(sum("x")).collect()(0).getLong(0) == 9000100003L)

    // int -> double (lossless cross-family); long -> double rejects
    val td = "D.S.WIDE_D"
    cat.overwrite(td, mk(Seq(7), IntegerType))
    cat.append(td, mk(Seq(2.5), DoubleType))
    val rd = cat.read(td)
    assert(rd.schema("x").dataType == DoubleType)
    assert(rd.agg(sum("x")).collect()(0).getDouble(0) == 9.5)
    val tl = "D.S.WIDE_LD"
    cat.overwrite(tl, mk(Seq(1L), LongType))
    intercept[IllegalArgumentException] { // would round past 2^53
      cat.append(tl, mk(Seq(0.5), DoubleType))
    }

    // decimal precision/scale growth; shrinking integer digits rejects
    val tdec = "D.S.WIDE_DEC"
    cat.overwrite(tdec,
      mk(Seq(new java.math.BigDecimal("123.45")), DecimalType(5, 2)))
    cat.append(tdec,
      mk(Seq(new java.math.BigDecimal("12345678901234567.890")),
        DecimalType(20, 3)))
    val rdec = cat.read(tdec)
    assert(rdec.schema("x").dataType == DecimalType(20, 3))
    assert(rdec.agg(sum("x")).collect()(0).getDecimal(0)
      .compareTo(new java.math.BigDecimal("12345678901234691.340")) == 0)
    intercept[IllegalArgumentException] { // (20,3) -> (10,4): p-s shrinks
      cat.append(tdec,
        mk(Seq(new java.math.BigDecimal("1.2345")), DecimalType(10, 4)))
    }

    // int -> decimal when integer digits cover the range
    val tid = "D.S.WIDE_ID"
    cat.overwrite(tid, mk(Seq(42), IntegerType))
    cat.append(tid,
      mk(Seq(new java.math.BigDecimal("10000000000.50")), DecimalType(13, 2)))
    val rid = cat.read(tid)
    assert(rid.schema("x").dataType == DecimalType(13, 2))
    assert(rid.agg(sum("x")).collect()(0).getDecimal(0)
      .compareTo(new java.math.BigDecimal("10000000042.50")) == 0)
    intercept[IllegalArgumentException] { // decimal(5,2) can't hold int
      val t2 = "D.S.WIDE_ID2"
      cat.overwrite(t2, mk(Seq(42), IntegerType))
      cat.append(t2,
        mk(Seq(new java.math.BigDecimal("1.25")), DecimalType(5, 2)))
    }
  }

  test("the bucket routing key never widens in place; other columns " +
      "of a bucketed table do") {
    val root = tempDir("r12_bktwiden")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.BKTW"
    cat.overwriteBucketed(t,
      Seq((1, 10L, "a"), (2, 20L, "b")).toDF("k", "qty", "v"), "k", 4)
    // widening the ROUTING KEY would re-key the hash: loud reject
    val e = intercept[IllegalArgumentException] {
      cat.appendBucketed(t, Seq((9000000000L, 30L, "c")).toDF("k", "qty", "v"))
    }
    assert(e.getMessage.contains("rebucket"), e.getMessage)
    // a NON-key column widens fine inside the bucketed layout
    cat.appendBucketed(t, Seq((3, 9000000000L, "c"))
      .toDF("k", "qty", "v"))
    assert(cat.read(t).agg(sum("qty")).collect()(0).getLong(0) == 9000000030L)
    // bucket-pruned lookup still finds every key
    val conn = spark.read.format("graft")
      .option("root", root).option("table", t).load()
    Seq(1, 2, 3).foreach(k =>
      assert(conn.filter(col("k") === k).count() == 1, s"k=$k"))
  }

  // ---- multi-probe IVF-PQ ADC table ---------------------------------------

  test("multi-probe IVF-PQ scores candidates with the SAME ADC " +
      "distances as full PQ (regression: duplicated probe rows once " +
      "shifted every positional table lookup)") {
    import graft.operators.Similarity
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(8)(rnd.nextFloat())
    def df(ids: Seq[Long]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, vec())), 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val corpus = df(100L to 160L)
    val queries = df(Seq(1L, 2L))
    val centroids = df(10L to 13L)  // 4 cells
    val codebook = df(0L to 15L)    // 16 codes
    val full = Similarity.pqTopK(corpus, queries, codebook,
        "vec_id", "embedding", m = 4, subDim = 2, numCodes = 16, k = 100)
      .select(col("query_id"), col("neighbor_id"),
        col("adc_d2").as("full_d2"))
    val probed = Similarity.ivfPqTopK(
        Similarity.assignCentroids(corpus, centroids, "vec_id", "embedding"),
        Similarity.assignCentroidsProbes(queries, centroids, "vec_id",
          "embedding", probes = 3),
        codebook, "vec_id", "embedding", m = 4, subDim = 2,
        numCodes = 16, k = 100)
    // every probed candidate's ADC distance must equal the full-PQ
    // score for the same (query, neighbor) pair — probing restricts
    // the CANDIDATE SET, never the arithmetic
    val joined = probed.join(full, Seq("query_id", "neighbor_id"))
    assert(joined.count() == probed.count())
    assert(joined.filter(col("adc_d2") =!= col("full_d2")).count() == 0,
      "multi-probe ADC distances must match full-PQ distances")
  }

  // ---- reclamation grace ---------------------------------------------------

  test("commit-path reclamation honors a minimum-age grace: a reader " +
      "pinned >1 version back survives rewrites inside the window") {
    val root = tempDir("r12_grace")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.GRACE"
    // default grace (24 h): three successive overwrites retire two
    // chains, but a time-travel reader pinned at v0 still resolves
    cat.overwrite(t, Seq((1L, "a")).toDF("id", "v")) // v0
    cat.overwrite(t, Seq((2L, "b")).toDF("id", "v")) // v1
    cat.overwrite(t, Seq((3L, "c")).toDF("id", "v")) // v2
    cat.append(t, Seq((4L, "d")).toDF("id", "v"))    // v3 (prune runs)
    assert(cat.readVersion(t, 0).collect()(0).getLong(0) == 1L,
      "within the grace window, v0 must stay time-travelable")
    assert(cat.readVersion(t, 1).collect()(0).getLong(0) == 2L)
    // eager mode (grace 0): the same sequence reclaims the retired
    // chains at the second-next commit, keeping exactly one back —
    // the pinned read fails LOUDLY, never silently wrong
    spark.conf.set("graft.reclaimGraceMs", "0")
    try {
      val t2 = "D.S.GRACE0"
      cat.overwrite(t2, Seq((1L, "a")).toDF("id", "v")) // v0
      cat.overwrite(t2, Seq((2L, "b")).toDF("id", "v")) // v1
      cat.overwrite(t2, Seq((3L, "c")).toDF("id", "v")) // v2
      cat.append(t2, Seq((4L, "d")).toDF("id", "v"))    // v3
      assert(!new java.io.File(s"$root/D/S/GRACE0/v_000000").exists,
        "eager mode reclaims the twice-retired chain")
      intercept[Exception] { cat.readVersion(t2, 0).collect() }
      // the kept-back predecessor still reads
      assert(cat.readVersion(t2, 2).count() == 1)
    } finally spark.conf.unset("graft.reclaimGraceMs")
  }

  // ---- DSv2 decimal write --------------------------------------------------

  test("DSv2 writer round-trips decimals across all three parquet " +
      "encodings (int32 / int64 / fixed-len byte array)") {
    val root = tempDir("r12_dec")
    spark.conf.set("spark.sql.catalog.gc_r12dec", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_r12dec.root", root)
    try {
      // RTAS with a decimal literal — the case that used to throw
      // "unsupported type DecimalType"
      spark.sql("CREATE TABLE gc_r12dec.d.s.dec USING graft AS " +
        "SELECT CAST(1.25 AS DECIMAL(5,2)) AS small, " +
        "CAST(1234567890.12 AS DECIMAL(18,2)) AS mid, " +
        "CAST(123456789012345678901234.5678 AS DECIMAL(38,4)) AS big")
      spark.sql("INSERT INTO gc_r12dec.d.s.dec VALUES " +
        "(CAST(-1.25 AS DECIMAL(5,2)), CAST(-0.01 AS DECIMAL(18,2)), " +
        "CAST(-123456789012345678901234.5678 AS DECIMAL(38,4)))")
      def check(df: DataFrame): Unit = {
        val r = df.orderBy(col("small")).collect()
        assert(r.length == 2)
        assert(r(0).getDecimal(0).toPlainString == "-1.25")
        assert(r(0).getDecimal(1).toPlainString == "-0.01")
        assert(r(0).getDecimal(2).toPlainString ==
          "-123456789012345678901234.5678")
        assert(r(1).getDecimal(0).toPlainString == "1.25")
        assert(r(1).getDecimal(2).toPlainString ==
          "123456789012345678901234.5678")
      }
      check(spark.sql("SELECT * FROM gc_r12dec.d.s.dec"))
      // row-based (non-columnar) read path decodes the same values
      check(spark.read.format("graft").option("root", root)
        .option("table", "d.s.dec").option("columnar", "false").load())
    } finally spark.conf.unset("spark.sql.catalog.gc_r12dec")
  }

  // ---- timestampAsOf reader ergonomics ------------------------------------

  test("reader option timestampAsOf accepts micros AND ISO-8601 " +
      "strings; SQL TIMESTAMP AS OF keeps working") {
    val root = tempDir("r12_tsof")
    val cat = new TableCatalog(spark, root)
    val t = "D.S.TSOF"
    cat.overwrite(t, Seq((1L, "v0")).toDF("id", "v"))
    Thread.sleep(1100) // distinct commit-clock seconds
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    cat.append(t, Seq((2L, "v1")).toDF("id", "v"))
    def readTs(ts: String): Long = spark.read.format("graft")
      .option("root", root).option("table", t)
      .option("timestampAsOf", ts).load().count()
    // micros pinned between the commits resolve to v0
    assert(readTs((between * 1000L).toString) == 1L)
    // ISO timestamp (session tz = UTC) between the commits → v0
    val iso = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(between), java.time.ZoneOffset.UTC)
      .toString
    assert(readTs(iso) == 1L)
    // space-separated variant and a far-future date → head
    assert(readTs(iso.replace('T', ' ')) == 1L)
    assert(readTs("2099-01-01") == 2L)
    // before the first commit: loud
    intercept[Exception] { readTs("2001-01-01") }
  }

  // ---- atomic CREATE TABLE constraints ------------------------------------

  test("CREATE TABLE with an inline CHECK commits the constraint " +
      "atomically with v0 (single version, enforced from birth)") {
    val root = tempDir("r12_atomic")
    spark.conf.set("spark.sql.catalog.gc_r12at", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gc_r12at.root", root)
    val cat = new TableCatalog(spark, root)
    try {
      spark.sql("CREATE TABLE gc_r12at.d.s.at " +
        "(id BIGINT, price DOUBLE, CONSTRAINT pp CHECK (price >= 0)) USING graft")
      val t = "d.s.at"
      // ONE commit: the constraint rides v0, no unconstrained window
      assert(cat.version(t).contains(0),
        "create+constraint must be a single v0 commit")
      assert(cat.snapshot(t, 0).constraints.exists(_.name == "pp"))
      intercept[Exception] {
        spark.sql("INSERT INTO gc_r12at.d.s.at VALUES (1, -2.0)")
      }
      spark.sql("INSERT INTO gc_r12at.d.s.at VALUES (1, 2.0)")
      assert(spark.sql("SELECT count(*) FROM gc_r12at.d.s.at")
        .collect()(0).getLong(0) == 1)
      // an unresolvable inline CHECK rejects and leaves NO table behind
      intercept[Exception] {
        spark.sql("CREATE TABLE gc_r12at.d.s.bad " +
          "(id BIGINT, CONSTRAINT nope CHECK (missing_col > 0)) USING graft")
      }
      assert(!cat.exists("d.s.bad"))
    } finally spark.conf.unset("spark.sql.catalog.gc_r12at")
  }
}
