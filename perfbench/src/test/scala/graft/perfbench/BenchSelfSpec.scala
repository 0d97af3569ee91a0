package graft.perfbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own invariants: inputs and expected answers are a
  * pure function of the seed, span self-times are never negative, and
  * BENCHMARK.json names exactly the metrics the harness prints. */
class BenchSelfSpec extends AnyFunSuite {

  test("medallion drops and their expected answers repeat per seed, differ across seeds") {
    val a = MedallionGen.drops(5, 16)
    assert(a == MedallionGen.drops(5, 16))
    assert(a.map(_.csv) == MedallionGen.drops(5, 16).map(_.csv))
    assert(a.map(d => (d.curatedNew, d.curatedUpdate)) ==
      MedallionGen.drops(5, 16).map(d => (d.curatedNew, d.curatedUpdate)))
    val b = MedallionGen.drops(6, 16)
    assert(a.map(_.csv) != b.map(_.csv))
    assert(a.map(d => (d.curatedNew, d.curatedUpdate)) !=
      b.map(d => (d.curatedNew, d.curatedUpdate)))
    // every deck of eight drops has one defect and two gzipped drops
    a.grouped(8).foreach { g =>
      assert(g.count(_.defect) == 1 && g.count(_.gz) == 2)
    }
  }

  test("table values and totals repeat per seed, differ across seeds") {
    val (s1, s2) = (TableGen.salt(5), TableGen.salt(6))
    assert(TableGen.flagTotals(10000, s1) == TableGen.flagTotals(10000, s1))
    assert(TableGen.flagTotals(10000, s1) != TableGen.flagTotals(10000, s2))
    assert((0L until 100L).map(TableGen.price(_, s1)) !=
      (0L until 100L).map(TableGen.price(_, s2)))
    val deck = Workload.deck(5L, Seq("a" -> 3, "b" -> 1), 40)
    assert(deck == Workload.deck(5L, Seq("a" -> 3, "b" -> 1), 40))
    assert(deck != Workload.deck(6L, Seq("a" -> 3, "b" -> 1), 40))
    deck.grouped(4).foreach(g => assert(g.count(_ == "b") == 1))
  }

  test("generated table rows equal the closed forms the checks use") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try {
      val s = TableGen.salt(123456789L)
      val rows = TableGen.rows(spark, 990L, 1010L, 2, s).collect()
      assert(rows.length == 20)
      rows.foreach { r =>
        val k = r.getLong(0)
        assert(r.getLong(1) == TableGen.qty(k, s))
        assert(r.getLong(2) == TableGen.price(k, s))
        assert(r.getString(3) == TableGen.flag(k, s))
      }
    } finally spark.stop()
  }

  test("dedup corpus and batches repeat per seed; planted copies clear the threshold") {
    val c = DedupGen.corpus(5)
    assert(c == DedupGen.corpus(5))
    assert(c != DedupGen.corpus(6))
    val b = DedupGen.batch(5, 3, c)
    assert(b == DedupGen.batch(5, 3, c))
    assert(b != DedupGen.batch(6, 3, DedupGen.corpus(6)))
    val planted = b.filter(_._3 >= 0)
    assert(planted.nonEmpty)
    planted.foreach { case (_, w, src) =>
      val (x, sa, sb) = DedupGen.overlap(w, c(src))
      assert(DedupGen.aboveThreshold(x, sa, sb))
    }
    // family members in the base corpus are near-duplicates of their root
    val (x, sa, sb) = DedupGen.overlap(c(8), c(0))
    assert(DedupGen.aboveThreshold(x, sa, sb))
  }

  test("span self-times are never negative") {
    val t = new Tracer(enabled = true)
    t.paused = false
    val rng = new scala.util.Random(1)
    def nest(depth: Int): Unit = t.span(s"l$depth") {
      if (depth < 3) (0 until 1 + rng.nextInt(3)).foreach(_ => nest(depth + 1))
      else Thread.sleep(rng.nextInt(3))
    }
    (0 until 5).foreach(_ => t.op("op")(nest(0)))
    val spans = t.all
    assert(spans.count(_.parent < 0) == 5)
    val self = Tracer.selfTimes(spans)
    assert(spans.forall(s => self(s.id) >= 0.0))
    // a root's self time plus its children's durations is its duration
    val kids = spans.groupBy(_.parent)
    spans.filter(_.parent < 0).foreach { r =>
      val sum = self(r.id) + kids(r.id).map(_.durS).sum
      assert(math.abs(sum - r.durS) < 1e-9)
    }
    // paused and disabled tracers record nothing
    t.paused = true
    t.op("quiet")(t.span("x")(()))
    assert(t.all.size == spans.size)
    val off = new Tracer(enabled = false)
    off.op("op")(off.span("x")(()))
    assert(off.all.isEmpty)
  }

  test("coverage floors fail a traced run with a gap or with no traced operation") {
    // a read whose plan and exec spans leave 20 % of it uncovered
    def read(trace: Int, gapNs: Long) = Seq(
      Span(3 * trace, -1, trace, "read", "", 0L, 100L + gapNs, 0.0),
      Span(3 * trace + 1, 3 * trace, trace, "connector.plan", "", 0L, 40L, 0.0),
      Span(3 * trace + 2, 3 * trace, trace, "connector.exec", "", 40L + gapNs,
        100L + gapNs, 0.0))
    val parts = Set("connector.plan", "connector.exec")
    val whole = Tracer.coverage(read(1, 0L) ++ read(2, 0L), "read", parts)
    assert(whole == Seq(1.0, 1.0))
    assert(Main.coverageErrors("m", whole).isEmpty)
    val gap = Tracer.coverage(read(1, 0L) ++ read(2, 25L), "read", parts)
    assert(gap == Seq(1.0, 0.8))
    assert(Main.coverageErrors("m", gap).nonEmpty)
    assert(Main.coverageErrors("m", Tracer.coverage(Nil, "read", parts)).nonEmpty)
  }

  test("table_scans op_p50_s moves when any one read kind slows down") {
    val kinds = Seq("lookup", "agg")
    def ops(aggS: Double) = Seq.fill(5)(OpRec("lookup", 0.1, 1, false)) ++
      Seq.fill(2)(OpRec("agg", aggS, 1, false)) :+ OpRec("commit", 9.0, 1, false)
    val base = Stats.geoMeanOfMedians(ops(0.4), kinds)
    assert(math.abs(base - 0.2) < 1e-12)
    // doubling the minority kind moves it by sqrt(2); a plain median would not move
    assert(math.abs(Stats.geoMeanOfMedians(ops(0.8), kinds) / base - math.sqrt(2)) < 1e-12)
  }

  test("interval union and the tail percentile follow their definitions") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 12L), (20L, 25L), (30L, 30L))) == 17L)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == ((90.0, 90.0, 100)))
    assert(Stats.tail(xs.take(5)) == ((5.0, 100.0, 5)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("BENCHMARK.json names exactly the metrics the harness prints") {
    val f = new java.io.File("../BENCHMARK.json")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def entries(k: String) = root.get(k).elements().asScala.toSeq
    assert(entries("end_to_end").map(e => e.get("name").asText -> e.get("unit").asText) ==
      Main.EndToEnd)
    assert(entries("per_layer").map(e => (e.get("name").asText,
      e.get("unit").asText, e.get("better").asText)) == Main.PerLayer)
    assert(entries("workloads").map(_.get("name").asText) ==
      Seq("medallion_drops", "table_scans", "dedup_corpus"))
  }
}
