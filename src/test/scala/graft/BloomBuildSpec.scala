package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** `TableCatalog.buildBloomIndex` builds every missing file's bitset in
  * one Spark job with no shuffle stage, and the bits it writes to
  * `_BLOOMS` are exactly the k = 5 double-hashed positions of
  * `xxhash64(cast(col as string))` over each file's rows — whether a
  * task reads a whole file or a file's row groups are split across
  * tasks (the driver ORs the parts). The reference bits are computed
  * here from the same hash and positions, not from catalog code. */
class BloomBuildSpec extends SparkTestBase {

  /** 600 padded rows in 2 write tasks: with 64 KB row groups every
    * group holds 100 rows (see RowGroupSkipSpec), so each file has
    * several groups a small byte split can hand to different tasks. */
  private def rows: DataFrame = spark.range(1, 601, 1, 2)
    .select(col("id"), concat(lit("key_"), col("id")).as("k"),
      (col("id") % 2).as("p"),
      rpad(concat(lit("p"), col("id")), 700, "x").as("pad"))

  /** Newest-generation `_BLOOMS` entries below `dir`: (file key,
    * column) -> bitset words. */
  private def sidecars(dir: String): Map[(String, String), Seq[Long]] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("_BLOOMS(\\.\\d+)?"))
    def gen(p: java.nio.file.Path) =
      p.getFileName.toString.stripPrefix("_BLOOMS").stripPrefix(".") match {
        case "" => 0
        case n => n.toInt
      }
    files.groupBy(_.getParent).values.map(_.maxBy(gen)).toSeq.flatMap { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n")
        .filter(_.nonEmpty).map { ln =>
          val Array(f, c, b64) = ln.split("\t", 3)
          val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(b64))
          (f, c) -> Seq.fill(bb.remaining / 8)(bb.getLong())
        }
    }.toMap
  }

  /** The bits each file of `fq` must carry for `column`: ~10 bits per
    * row rounded up to a power of two (at least 1 024), and the 5
    * positions (h + i * h2) mod m, h2 = (h >>> 32) | 1, of each row's
    * `xxhash64(cast(column as string))`. */
  private def reference(cat: TableCatalog, fq: String, column: String)
      : Map[String, Seq[Long]] = {
    val hashes = spark.read.parquet(cat.dataFilePaths(fq): _*)
      .select(col("_metadata.file_path"), xxhash64(col(column).cast("string")))
      .collect().toSeq
      .groupMap(r => new Path(r.getString(0)).toUri.getPath)(_.getLong(1))
    hashes.map { case (f, hs) =>
      var m = 1024L
      while (m < hs.size * 10L) m <<= 1
      val bits = Array.ofDim[Long]((m / 64).toInt)
      hs.foreach { h =>
        val h2 = (h >>> 32) | 1L
        (0 until 5).foreach { i =>
          val pos = java.lang.Math.floorMod(h + i * h2, m)
          bits((pos >> 6).toInt) |= 1L << (pos & 63)
        }
      }
      f -> bits.toSeq
    }
  }

  private def rowGroups(path: String): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(path), spark.sparkContext.hadoopConfiguration)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getRowGroups.size finally rd.close()
  }

  test("bloom build: one job, no shuffle; bits match the reference " +
      "for whole-file and split reads") {
    val root = tempDir("bloom_build")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.bb"
    withSmallRowGroups(cat.overwrite(t, rows.drop("p")))
    val files = cat.dataFilePaths(t)
    assert(files.size == 2 && files.forall(rowGroups(_) > 1),
      s"row groups per file: ${files.map(rowGroups)}")

    // whole files: one task reads each file
    val (n1, c1) = jobCounts(cat.buildBloomIndex(t, "k"))
    assert(n1 == 2 && c1.jobs == 1 && c1.shuffleMapTasks == 0, (n1, c1))
    assert(c1.readingTasks == 2, c1)

    // the same files split across tasks: several tasks read rows of
    // one file, and the driver ORs their bitsets
    val split = java.nio.file.Files.size(java.nio.file.Paths.get(files.head)) / 4
    val (n2, c2) = withConf(
        "spark.sql.files.maxPartitionBytes" -> split.toString,
        "spark.sql.files.openCostInBytes" -> "0") {
      jobCounts(cat.buildBloomIndex(t, "id"))
    }
    assert(n2 == 2 && c2.jobs == 1 && c2.shuffleMapTasks == 0, (n2, c2))
    assert(c2.readingTasks > files.size, s"$c2 over ${files.size} files")

    val got = sidecars(root)
    assert(got.keySet == files.flatMap(f => Seq(f -> "k", f -> "id")).toSet)
    Seq("k", "id").foreach { c =>
      reference(cat, t, c).foreach { case (f, bits) =>
        assert(got((f, c)) == bits, s"bitset of $f on $c")
      }
    }
    assert(cat.buildBloomIndex(t, "k") == 0 && cat.buildBloomIndex(t, "id") == 0)
  }

  test("bloom build on a partitioned table: one job, no shuffle, " +
      "reference bits") {
    val root = tempDir("bloom_build_p")
    val cat = new TableCatalog(spark, root)
    val t = "d.s.bbp"
    withSmallRowGroups(cat.overwritePartitioned(t, rows, Seq("p")))
    val files = cat.dataFilePaths(t)
    assert(files.size == 4 && files.forall(_.contains("/p=")), files)
    // a cold partitioned snapshot infers its schema in a job of its
    // own (per owning dir, cached); resolve it first, so the count
    // below is the build's alone
    cat.snapshot(t).schema
    val (n, c) = jobCounts(cat.buildBloomIndex(t, "k"))
    assert(n == 4 && c.jobs == 1 && c.shuffleMapTasks == 0, (n, c))
    val got = sidecars(root)
    assert(got.keySet == files.map(_ -> "k").toSet)
    reference(cat, t, "k").foreach { case (f, bits) =>
      assert(got((f, "k")) == bits, s"bitset of $f")
    }
    assert(cat.readPoint(t, "k", "key_123").count() == 1)
  }
}
