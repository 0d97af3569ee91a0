package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources._

class RestAuthSpec extends AnyFunSuite {
  private val noSleep = RestSource.RetryPolicy(sleeper = _ => ())

  test("oauth client-credentials token fetch") {
    val http = new HttpClient {
      def request(method: String, url: String, headers: Map[String, String],
          body: Option[String]): (Int, String) = {
        assert(method == "POST" && url == "token")
        assert(body.exists(_.contains("grant_type=client_credentials")))
        assert(headers("Content-Type") == "application/x-www-form-urlencoded")
        (200, """{"access_token":"tok123","expires_in":3600}""")
      }
    }
    assert(RestSource.fetchToken(http, "token", "id", "secret", noSleep) == "tok123")
    val h = RestSource.authHeaders("tok123", Some("svc-key"))
    assert(h == Map("Authorization" -> "Bearer tok123", "SiteServiceKey" -> "svc-key"))
  }

  test("token fetch fails when access_token missing") {
    val http = new HttpClient {
      def request(m: String, u: String, h: Map[String, String],
          b: Option[String]): (Int, String) = (200, """{"error":"nope"}""")
    }
    intercept[RestError](RestSource.fetchToken(http, "token", "a", "b", noSleep))
  }

  test("error message cleaner strips engine code prefixes") {
    assert(RestSource.cleanErrorMessage("100038 (22018): Numeric value 'x' is not recognized")
      == "Numeric value 'x' is not recognized")
    assert(RestSource.cleanErrorMessage("plain message") == "plain message")
    assert(RestSource.cleanErrorMessage(null) == "")
  }
}

class CatalogPartitionSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("partitioned overwrite prunes partitions on read") {
    val cat = new graft.catalog.TableCatalog(spark, tempDir("part"))
    val df = Seq(("p1", "2024-01-01", 1), ("p1", "2024-01-02", 2),
      ("p2", "2024-01-01", 3)).toDF("practice", "load_date", "v")
    cat.overwritePartitioned("d.s.t", df, Seq("practice", "load_date"))
    val read = cat.read("d.s.t")
    assert(read.count() == 3)
    val pruned = read.filter(org.apache.spark.sql.functions.col("practice") === "p1")
    assert(pruned.count() == 2)
    // partition filter reaches the scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("practice"))
  }

  test("partitioned table survives append, update, merge, compact") {
    val cat = new graft.catalog.TableCatalog(spark, tempDir("part"))
    val t = "d.s.plife"
    cat.overwritePartitioned(t,
      Seq(("p1", 1, 1), ("p2", 2, 1)).toDF("practice", "id", "IS_NEW"),
      Seq("practice"))

    // append keeps prior partitions' data (dir-granularity manifest)
    cat.append(t, Seq(("p1", 3, 1), ("p3", 4, 1)).toDF("practice", "id", "IS_NEW"))
    assert(cat.read(t).count() == 4)
    assert(cat.read(t).filter($"practice" === "p1").count() == 2)

    // updateWhere rewrites partitioned and keeps all rows
    cat.updateWhere(t, Map("IS_NEW" -> lit(0)), col("IS_NEW") === 1 && col("id") < 4)
    val flags = cat.read(t).select("id", "IS_NEW").as[(Int, Int)].collect().toMap
    assert(flags == Map(1 -> 0, 2 -> 0, 3 -> 0, 4 -> 1))

    // merge upserts by key across partitions
    cat.merge(t, Seq(("p2", 2, 9), ("p4", 9, 9)).toDF("practice", "id", "IS_NEW"),
      Seq("id"))
    val merged = cat.read(t).select("id", "IS_NEW").as[(Int, Int)].collect().toMap
    assert(merged == Map(1 -> 0, 2 -> 9, 3 -> 0, 4 -> 1, 9 -> 9))
    assert(cat.read(t).filter($"practice" === "p4").count() == 1)

    // compaction keeps content and layout; pruning stays partition-aware
    cat.append(t, Seq(("p1", 10, 1)).toDF("practice", "id", "IS_NEW"))
    cat.compact(t)
    assert(cat.read(t).count() == 6)
    val pruned = cat.read(t).filter($"practice" === "p1")
    assert(pruned.collect().length == 3)
    // connector-backed partitioned read (round 8): pruning evidence is
    // fewer scheduled slices than the table's file count
    assert(graft.connector.GraftPlanInspect.scanPartitionsOf(pruned) <
      cat.dataFilePaths(t).size)
  }

  /** Data files of a version dir at any depth (sidecars excluded),
    * as scheme-less absolute paths. */
  private def ownFiles(dir: java.io.File): Set[String] =
    Option(dir.listFiles).map(_.toSeq).getOrElse(Nil)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .flatMap(f => if (f.isDirectory) ownFiles(f) else Set(f.getAbsolutePath))
      .toSet

  private def tombstones(dir: java.io.File): Set[String] = {
    val f = new java.io.File(dir, "_TOMBSTONES")
    if (!f.exists) Set.empty
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).toSet
  }

  private def livePaths(cat: graft.catalog.TableCatalog, t: String,
      v: Int): Set[String] =
    cat.snapshot(t, v).files.map(f => new java.net.URI(f.path).getPath).toSet

  test("partitioned updateWhere rewrites only touched partition dirs") {
    val root = tempDir("part")
    val cat = new graft.catalog.TableCatalog(spark, root)
    val t = "d.s.pprune"
    cat.overwritePartitioned(t,
      Seq(("p1", 1, 1), ("p2", 2, 1), ("p3", 3, 1))
        .toDF("practice", "id", "IS_NEW"),
      Seq("practice"))
    val v0 = new java.io.File(s"$root/d/s/pprune/v_000000")
    def under(files: Set[String], part: String) =
      files.filter(_.contains(s"/practice=$part/"))
    val before = ownFiles(v0)
    assert(under(before, "p1").nonEmpty && under(before, "p3").nonEmpty)

    // predicate matches rows only in practice=p2
    cat.updateWhere(t, Map("IS_NEW" -> org.apache.spark.sql.functions.lit(0)),
      col("practice") === "p2")
    val v1 = new java.io.File(s"$root/d/s/pprune/v_000001")
    assert(v1.isDirectory && new java.io.File(v1, "_MANIFEST").exists)
    // the new version's own files lie only under the rewritten p2
    val own1 = ownFiles(v1)
    assert(own1.nonEmpty && own1 == under(own1, "p2"), own1)
    // only the rewritten file is tombstoned
    assert(tombstones(v1) == under(before, "p2"))
    // untouched partitions' files stay in place and stay live
    assert(ownFiles(v0) == before)
    val live = livePaths(cat, t, 1)
    assert((under(before, "p1") ++ under(before, "p3")).subsetOf(live))
    assert(live == before -- under(before, "p2") ++ own1)
    val rows = cat.read(t).select("id", "IS_NEW")
      .as[(Int, Int)].collect().toMap
    assert(rows == Map(1 -> 1, 2 -> 0, 3 -> 1))
    // partition pruning still reaches the scan after a pruned update
    // (connector-backed read: count scheduled slices)
    val prunedRead = cat.read(t).filter($"practice" === "p1")
    prunedRead.collect()
    assert(graft.connector.GraftPlanInspect.scanPartitionsOf(prunedRead) <
      cat.dataFilePaths(t).size)
    // no-match predicate is a no-op: no new version directory
    cat.updateWhere(t, Map("IS_NEW" -> org.apache.spark.sql.functions.lit(9)),
      col("id") === -1)
    assert(!new java.io.File(s"$root/d/s/pprune/v_000002").exists)
  }

  test("candidateFiles drops files whose partition values fail a conjunct") {
    val cat = new graft.catalog.TableCatalog(spark, tempDir("part"))
    val t = "d.s.pcands"
    cat.overwritePartitioned(t,
      Seq(("p1", 1, 1), ("p2", 2, 1), ("p3", 3, 1)).toDF("practice", "id", "IS_NEW"),
      Seq("practice"))
    val v = cat.version(t).get
    val files = cat.snapshot(t, v).files
    assert(files.size == 3)
    def cands(p: org.apache.spark.sql.Column) =
      cat.candidateFiles(cat.snapshot(t, v), p).map(_.path)
    // the updateWhere predicate of "partitioned updateWhere rewrites only
    // touched partition dirs": one candidate, not every file
    val p2 = cands(col("practice") === "p2")
    assert(p2.size == 1 && p2.head.contains("/practice=p2/"), p2)
    assert(cands(col("practice").isin("p1", "p3")).map(f =>
      f.split("/practice=")(1).take(2)).sorted == Seq("p1", "p3"))
    assert(cands(col("practice") === "p9").isEmpty)
    // a data-column conjunct prunes by stats as before
    assert(cands(col("practice") =!= "p9" && col("id") === 3).size == 1)
  }

  test("partitioned merge rewrites only partitions overlapping source keys") {
    val root = tempDir("part")
    val cat = new graft.catalog.TableCatalog(spark, root)
    val t = "d.s.pmerge"
    cat.overwritePartitioned(t,
      Seq(("p1", 1, "old"), ("p2", 2, "old"), ("p3", 3, "old"))
        .toDF("practice", "id", "v"),
      Seq("practice"))
    val v0 = new java.io.File(s"$root/d/s/pmerge/v_000000")
    def under(files: Set[String], part: String) =
      files.filter(_.contains(s"/practice=$part/"))
    val before = ownFiles(v0)
    // source touches id=2 (practice=p2) and introduces p9
    cat.merge(t, Seq(("p2", 2, "new"), ("p9", 9, "new")).toDF("practice", "id", "v"),
      Seq("id"))
    val v1 = new java.io.File(s"$root/d/s/pmerge/v_000001")
    assert(new java.io.File(v1, "_MANIFEST").exists)
    // v1's own files: the rewritten p2 file and the new p9 partition
    val own1 = ownFiles(v1)
    assert(under(own1, "p2").nonEmpty && under(own1, "p9").nonEmpty &&
      own1 == under(own1, "p2") ++ under(own1, "p9"), own1)
    assert(tombstones(v1) == under(before, "p2"))
    assert(ownFiles(v0) == before)
    assert((under(before, "p1") ++ under(before, "p3"))
      .subsetOf(livePaths(cat, t, 1)))
    val rows = cat.read(t).select("id", "v").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "old", 2 -> "new", 3 -> "old", 9 -> "new"))
    // zero-overlap merge appends without rewriting any partition
    cat.merge(t, Seq(("p1", 100, "new")).toDF("practice", "id", "v"), Seq("id"))
    val v2 = new java.io.File(s"$root/d/s/pmerge/v_000002")
    assert(tombstones(v2).isEmpty)
    assert(livePaths(cat, t, 1).subsetOf(livePaths(cat, t, 2)))
    val rows2 = cat.read(t).select("id", "v").as[(Int, String)].collect().toMap
    assert(rows2.size == 5 && rows2(100) == "new" && rows2(1) == "old")
  }

  test("partitioned update, delete and merge rewrite only the matching " +
      "file of a two-file partition") {
    val root = tempDir("part")
    val cat = new graft.catalog.TableCatalog(spark, root)
    val t = "d.s.ptwo"
    val dir = s"$root/d/s/ptwo"
    cat.overwritePartitioned(t,
      Seq(("p1", 1, 0), ("p2", 3, 0)).toDF("practice", "id", "flag"),
      Seq("practice"))
    cat.append(t, Seq(("p1", 2, 0)).toDF("practice", "id", "flag"))
    def p1Files(v: Int) = livePaths(cat, t, v).filter(_.contains("/practice=p1/"))
    def ownOf(v: Int) = ownFiles(new java.io.File(f"$dir/v_$v%06d"))
    val fileOf1 = ownOf(0).filter(_.contains("/practice=p1/"))
    val fileOf2 = ownOf(1)
    assert(p1Files(1) == fileOf1 ++ fileOf2 && fileOf1.size == 1 && fileOf2.size == 1)

    // no `_STATS` bound rules a file out of `id % 2 = 0`: both p1 files
    // are candidates, and the probe finds the one that holds id 2
    cat.updateWhere(t, Map("flag" -> lit(1)), pmod(col("id"), lit(2)) === 0)
    assert(tombstones(new java.io.File(s"$dir/v_000002")) == fileOf2)
    assert(p1Files(2) == fileOf1 ++ ownOf(2))

    // delete id 1 only: its file goes, the rewritten one stays
    cat.deleteWhere(t, pmod(col("id"), lit(2)) === 1 && col("practice") === "p1")
    assert(tombstones(new java.io.File(s"$dir/v_000003")) == fileOf1)
    assert(p1Files(3) == ownOf(2) ++ ownOf(3).filter(_.contains("/practice=p1/")))

    // merge on id 2 rewrites its file, not the p2 one
    val p2 = livePaths(cat, t, 3).filter(_.contains("/practice=p2/"))
    cat.merge(t, Seq(("p1", 2, 7)).toDF("practice", "id", "flag"), Seq("id"))
    assert(tombstones(new java.io.File(s"$dir/v_000004")) == ownOf(2))
    assert(p2.subsetOf(livePaths(cat, t, 4)))
    val rows = cat.read(t).select("id", "flag").as[(Int, Int)].collect().toMap
    assert(rows == Map(2 -> 7, 3 -> 0))

    // deleting every row leaves no partition file: the version keeps a
    // schema carrier and stays readable
    cat.deleteWhere(t, lit(true))
    assert(cat.read(t).count() == 0)
    assert(cat.read(t).columns.toSet == Set("practice", "id", "flag"))
  }

  test("a bucketed layout without its spec fails loudly on a rewrite") {
    val root = tempDir("part")
    val cat = new graft.catalog.TableCatalog(spark, root)
    val t = "d.s.pnospec"
    cat.overwriteBucketed(t, Seq((1, 0), (2, 0)).toDF("k", "flag"), "k", 4)
    val v0 = new java.io.File(s"$root/d/s/pnospec/v_000000")
    Seq("_BUCKETSPEC", "._BUCKETSPEC.crc")
      .foreach(n => new java.io.File(v0, n).delete())
    val e = intercept[IllegalStateException] {
      cat.updateWhere(t, Map("flag" -> lit(1)), col("k") === 1)
    }
    assert(e.getMessage.contains("no _BUCKETSPEC"), e.getMessage)
    assert(cat.version(t) == Some(0))
  }

  test("partitioned update, merge and MoR update enforce CHECK and NOT NULL") {
    val root = tempDir("part")
    val cat = new graft.catalog.TableCatalog(spark, root)
    val t = "d.s.pcheck"
    cat.overwritePartitioned(t,
      Seq(("p1", 1, 5.0, "a"), ("p2", 2, 6.0, "b"))
        .toDF("practice", "id", "price", "tag"),
      Seq("practice"))
    cat.alterAddCheck(t, "price_pos", "price >= 0")
    cat.alterAddNotNull(t, "tag")
    val v = cat.version(t)
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    def rejects(what: String, expect: String)(op: => Unit): Unit = {
      val e = intercept[Exception](op)
      assert(messages(e).contains(expect), s"$what: ${messages(e)}")
      assert(cat.version(t) == v, s"$what moved the version")
    }
    val nullTag = lit(null).cast("string")
    rejects("updateWhere CHECK", "CHECK constraint price_pos") {
      cat.updateWhere(t, Map("price" -> lit(-1.0)), col("id") === 1) }
    rejects("updateWhere NOT NULL", "NOT NULL constraint") {
      cat.updateWhere(t, Map("tag" -> nullTag), col("id") === 1) }
    rejects("merge CHECK", "CHECK constraint price_pos") {
      cat.merge(t, Seq(("p2", 2, -3.0, "c")).toDF("practice", "id", "price", "tag"),
        Seq("id")) }
    rejects("merge NOT NULL", "NOT NULL constraint") {
      cat.merge(t, Seq(("p3", 3, 1.0, null: String))
        .toDF("practice", "id", "price", "tag"), Seq("id")) }
    rejects("updateWhereDV CHECK", "CHECK constraint price_pos") {
      cat.updateWhereDV(t, Map("price" -> lit(-1.0)), col("id") === 2) }
    rejects("updateWhereDV NOT NULL", "NOT NULL constraint") {
      cat.updateWhereDV(t, Map("tag" -> nullTag), col("id") === 2) }
    val rows = cat.read(t).select("id", "price", "tag")
      .as[(Int, Double, String)].collect().toSet
    assert(rows == Set((1, 5.0, "a"), (2, 6.0, "b")))
  }
}
