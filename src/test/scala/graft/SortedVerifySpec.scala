package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.GraftFunctions
import graft.operators.Dedup

/** The sorted-array verify path: the [[graft.functions.expressions
  * .SortedIntersectCount]] kernel against a Scala set intersection, the
  * incremental probe's separation of batch and corpus ids, and the
  * probe's Spark-job budget. */
class SortedVerifySpec extends SparkTestBase {
  import spark.implicits._

  // one- to three-symbol strings over an alphabet whose UTF-16 order
  // and UTF-8 byte order disagree: U+FF21 sorts above the surrogate
  // pair of U+1F600 in UTF-16, below its 4-byte UTF-8 form
  private val symbols = Seq("a", "b", "z", "é", "中", "文", "Ａ", "😀")

  private def randomArrays(seed: Long, n: Int): Seq[(Int, Seq[String], Seq[String])] = {
    val rng = new scala.util.Random(seed)
    def term() = Seq.fill(1 + rng.nextInt(3))(symbols(rng.nextInt(symbols.size))).mkString
    def arr(): Seq[String] = rng.nextInt(10) match {
      case 0 => null
      case 1 => Seq.empty
      case _ => Seq.fill(rng.nextInt(40))(term())
    }
    (0 until n).map(i => (i, arr(), arr()))
  }

  private def expected(a: Seq[String], b: Seq[String]): Option[Long] =
    if (a == null || b == null) None
    else Some(a.toSet.intersect(b.toSet).size.toLong)

  test("array_sort orders strings by UTF-8 bytes, not by UTF-16 units") {
    val sorted = Seq(Seq("😀", "Ａ")).toDF("a")
      .select(array_sort(col("a"))).as[Seq[String]].head()
    assert(sorted == Seq("Ａ", "😀"))
    assert("😀".compareTo("Ａ") < 0) // the order a String walk would assume
  }

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
    test(s"sorted intersect count equals a Scala set intersection ($mode)") {
      GraftFunctions.register(spark)
      val data = randomArrays(seed = 17L, n = 400)
      val raw = data.toDF("i", "a", "b")
      val sortedArr = (c: String) => array_sort(array_distinct(col(c)))
      val sorted = raw.select(col("i"), sortedArr("a").as("a"), sortedArr("b").as("b"))
      val dir = tempDir("sorted_intersect")
      sorted.write.mode("overwrite").parquet(dir)
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val overlap = GraftFunctions.sortedIntersectCount(col("a"), col("b")).as("n")
        // the three array layouts the kernel meets: generic arrays fresh
        // from array_sort, unsafe arrays out of a shuffle, and columnar
        // arrays out of a parquet scan
        val inline = raw.select(col("i"),
          GraftFunctions.sortedIntersectCount(sortedArr("a"), sortedArr("b")).as("n"))
        val shuffled = sorted.repartition(3).select(col("i"), overlap)
        val scanned = spark.read.parquet(dir).select(col("i"), overlap)
        for (df <- Seq(inline, shuffled, scanned)) {
          val got = df.collect().map(r =>
            r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
          data.foreach { case (i, a, b) =>
            assert(got(i) == expected(a, b), s"row $i: $a ∩ $b")
          }
        }
        assert(data.exists { case (_, a, b) => expected(a, b).exists(_ > 3) })
      }
    }

  private val corpusText = Map(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "one two three four five six seven eight")

  private def probe(batch: Seq[(Long, String)], work: String): Set[(Long, Long, Long, Long, Long)] = {
    val corpus = corpusText.toSeq.toDF("id", "text")
    Dedup.minhashBands(corpus, "id", "text", 2, 8).write.mode("overwrite")
      .parquet(s"$work/index")
    Dedup.shingleTerms(corpus, "id", "text", 2).write.mode("overwrite")
      .parquet(s"$work/terms")
    Dedup.incrementalNearDupes(batch.toDF("id", "text"), "id", "text",
        spark.read.parquet(s"$work/index"), spark.read.parquet(s"$work/terms"),
        2, 8, 6, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
  }

  test("a batch id that reuses a corpus id verifies against its own text") {
    val work = tempDir("idreuse")
    // batch doc 1 is a copy of corpus doc 2; batch doc 10 of corpus doc 1
    assert(probe(Seq(1L -> corpusText(2L), 10L -> corpusText(1L)), work) ==
      Set((1L, 2L, 7L, 7L, 7L), (10L, 1L, 7L, 7L, 7L)))
    // the same batch under fresh ids finds the same pairs
    assert(probe(Seq(3L -> corpusText(2L), 10L -> corpusText(1L)), work) ==
      Set((3L, 2L, 7L, 7L, 7L), (10L, 1L, 7L, 7L, 7L)))
  }

  test("one incremental probe runs at most 12 Spark jobs") {
    import org.apache.spark.scheduler._
    val work = tempDir("probejobs")
    val rng = new scala.util.Random(5)
    def doc() = Seq.fill(30)("w" + rng.nextInt(400)).mkString(" ")
    val corpus = (0L until 300L).map(i => (i, doc())).toDF("id", "text")
    Dedup.minhashBands(corpus, "id", "text", 2, 8).write.parquet(s"$work/index")
    Dedup.shingleTerms(corpus, "id", "text", 2).write.parquet(s"$work/terms")
    // a third of the batch copies corpus documents, so pairs verify
    val texts = corpus.as[(Long, String)].collect().toMap
    (300L until 360L).map(i => (i, if (i % 3 == 0) texts(i - 300L) else doc()))
      .toDF("id", "text").coalesce(1).write.parquet(s"$work/batch")
    def run(): Array[org.apache.spark.sql.Row] =
      Dedup.incrementalNearDupes(spark.read.parquet(s"$work/batch"), "id", "text",
        spark.read.parquet(s"$work/index"), spark.read.parquet(s"$work/terms"),
        2, 8, 6, 10).collect()
    run() // warm: first-use registration and class loading
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val ended = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val rows = try {
      Thread.sleep(300)
      started.set(0); ended.set(0)
      val r = run()
      val deadline = System.currentTimeMillis() + 10000
      while (ended.get < started.get && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(300)
      r
    } finally spark.sparkContext.removeSparkListener(l)
    assert(rows.map(_.getLong(0)).toSet == (300L until 360L by 3).toSet)
    info(s"one probe ran ${started.get} Spark jobs")
    assert(started.get <= 12, s"one probe ran ${started.get} Spark jobs")
  }
}
