package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.TableCatalog

/** Row values of the generated table, as closed forms of the key, so the
  * benchmark knows every answer without reading the table back. `s` is
  * the seed, bounded so no product overflows a long. */
object TableGen {
  val Flags = IndexedSeq("A", "N", "R")
  def salt(seed: Long): Long = seed & 0xFFFFF
  def qty(k: Long, s: Long): Long = Math.floorMod(k * 2654435761L + s, 50L) + 1
  def price(k: Long, s: Long): Long = Math.floorMod(k * 40503L + s * 7, 100000L)
  def flag(k: Long, s: Long): String = Flags(Math.floorMod(k * 31L + s, 3L).toInt)

  /** Keys [from, until) with the same values `qty`/`price`/`flag` give. */
  def rows(spark: SparkSession, from: Long, until: Long, parts: Int, s: Long): DataFrame =
    spark.range(from, until, 1, parts).select(
      col("id").as("key"),
      (pmod(col("id") * lit(2654435761L) + lit(s), lit(50L)) + lit(1L)).as("qty"),
      pmod(col("id") * lit(40503L) + lit(s * 7), lit(100000L)).as("price"),
      element_at(array(Flags.map(lit): _*),
        (pmod(col("id") * lit(31L) + lit(s), lit(3L)) + lit(1L)).cast("int")).as("flag"))

  /** Per-flag (rows, price sum) over keys [0, n). */
  def flagTotals(n: Long, s: Long): Map[String, (Long, Long)] = {
    val cnt = Array.fill(3)(0L); val sum = Array.fill(3)(0L)
    var k = 0L
    while (k < n) {
      val f = Math.floorMod(k * 31L + s, 3L).toInt
      cnt(f) += 1; sum(f) += price(k, s); k += 1
    }
    Flags.indices.map(i => Flags(i) -> (cnt(i), sum(i))).toMap
  }
}

/** A read-mostly SQL mix through the `GraftCatalog` V2 plugin over one
  * generated graft table with a clustered key, a bloom index, outstanding
  * deletion vectors and a commit history to time-travel into. */
final class TableScans(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload {
  import TableScans._

  private val s = TableGen.salt(seed)
  private var rep = 0
  private var cat: TableCatalog = _
  private var table = ""
  private var rng = new scala.util.Random(seed)
  // the model: what the table holds at each version
  private val deleted = mutable.Set.empty[Long]
  private var nextKey = Rows
  private var totals = Map.empty[String, (Long, Long)]
  private val versions = mutable.Map.empty[Int, (Long, Long)]
  private var commits = 0
  private var kinds: IndexedSeq[String] = IndexedSeq.empty

  private def live(k: Long) = k < nextKey && !deleted(k)
  private def total = totals.values.foldLeft((0L, 0L)) {
    case ((c, p), (c2, p2)) => (c + c2, p + p2) }
  private def record(): Unit = versions(cat.version(Fq).get) = total

  def setup(dir: String): Unit = {
    rep += 1
    val catName = s"gcat_b$rep"
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.connector.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.root", s"$dir/warehouse")
    table = s"$catName.$Fq"
    cat = Workload.catalog(spark, s"$dir/warehouse", tracer)
    rng = new scala.util.Random(seed)
    deleted.clear(); versions.clear(); commits = 0; nextKey = Rows
    kinds = IndexedSeq("lookup", "range", "agg", "asof") ++ Workload.deck(seed,
      Seq("lookup" -> 2, "range" -> 2, "agg" -> 2, "asof" -> 2, "commit" -> 1), 4000)
    // spark.range partitions are contiguous key ranges: each file holds
    // one slice of the key space, so the key is clustered
    cat.append(Fq, TableGen.rows(spark, 0, Rows, Files, s))
    totals = TableGen.flagTotals(Rows, s)
    record()
    cat.buildBloomIndex(Fq, "key")
    (0 until HistoryCommits).foreach(_ => commit())
  }

  /** Alternately append fresh keys and delete a few live keys by DV:
    * (committed exactly one version, seconds the commit took). */
  private def commit(): (Boolean, Double) = {
    val before = cat.version(Fq).get
    val dt = if (commits % 2 == 0) {
      val dt = Workload.timed(tracer.op("commit", "append")(cat.append(Fq,
        TableGen.rows(spark, nextKey, nextKey + AppendRows, 1, s))))._2
      (nextKey until nextKey + AppendRows).foreach(add(_, +1))
      nextKey += AppendRows
      dt
    } else {
      val keys = Iterator.continually(rng.nextLong(nextKey)).filter(live)
        .take(DeleteKeys).toSet
      val dt = Workload.timed(tracer.op("commit", "delete")(
        cat.deleteWhereDV(Fq, col("key").isin(keys.toSeq: _*))))._2
      keys.foreach(add(_, -1))
      deleted ++= keys
      dt
    }
    commits += 1
    record()
    (cat.version(Fq).get == before + 1, dt)
  }

  private def add(k: Long, sign: Int): Unit = {
    val f = TableGen.flag(k, s)
    val (c, p) = totals(f)
    totals = totals.updated(f, (c + sign, p + sign * TableGen.price(k, s)))
  }

  // one read of each kind, then one whole deck: read latency falls over
  // the first dozen operations while the JIT compiles the scan paths
  def warmupSteps: Int = 13

  def maxSteps: Int = kinds.size

  def step(i: Int): Outcome = {
    val kind = kinds(i)
    if (kind == "commit") {
      val (ok, dt) = commit()
      return Outcome(kind, dt, ok, 1)
    }
    val (q, check) = kind match {
      case "lookup" =>
        val k = rng.nextLong(nextKey)
        (s"SELECT qty, price, flag FROM $table WHERE key = $k",
          (rows: Array[Row]) =>
            if (!live(k)) rows.isEmpty
            else rows.length == 1 && rows(0).getLong(0) == TableGen.qty(k, s) &&
              rows(0).getLong(1) == TableGen.price(k, s) &&
              rows(0).getString(2) == TableGen.flag(k, s))
      case "range" =>
        val a = rng.nextLong(Rows - RangeWidth)
        val keys = (a until a + RangeWidth).filter(live)
        (s"SELECT count(*), sum(price) FROM $table WHERE key >= $a AND key < ${a + RangeWidth}",
          (rows: Array[Row]) => rows.length == 1 &&
            rows(0).getLong(0) == keys.size &&
            rows(0).getLong(1) == keys.map(TableGen.price(_, s)).sum)
      case "agg" =>
        (s"SELECT flag, count(*), sum(price) FROM $table GROUP BY flag",
          (rows: Array[Row]) => rows.map(r =>
            r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap ==
            totals.filter(_._2._1 > 0))
      case "asof" =>
        val vs = versions.keys.toIndexedSeq.sorted.init
        val v = vs(rng.nextInt(vs.size))
        (s"SELECT count(*), sum(price) FROM $table VERSION AS OF $v",
          (rows: Array[Row]) => rows.length == 1 &&
            (rows(0).getLong(0), rows(0).getLong(1)) == versions(v))
    }
    val (rows, dt) = Workload.timed(tracer.op("read", kind) {
      val df = tracer.span("connector.plan", kind) {
        val df = spark.sql(q)
        df.queryExecution.executedPlan
        df
      }
      tracer.span("connector.exec", kind)(df.collect())
    })
    Outcome(kind, dt, check(rows), 1)
  }

  def finalCheck(): Seq[String] = {
    val got = cat.read(Fq).agg(count(lit(1)), sum(col("price"))).head()
    if ((got.getLong(0), got.getLong(1)) == total) Nil
    else Seq(s"final table (${got.getLong(0)}, ${got.getLong(1)}), expected $total")
  }

  def latencyKinds: Set[String] = Reads.toSet

  /** The geometric mean of the per-kind read medians, so a slowdown of
    * any one kind moves it, whatever the deck's mix. */
  override def opP50(ops: Seq[OpRec]): Double = Stats.geoMeanOfMedians(ops, Reads)

  def named(ops: Seq[OpRec]): Seq[Named] = {
    val byKind = ops.groupBy(_.kind).map { case (k, v) => k -> v.map(_.durS) }
    val reads = ops.filter(o => latencyKinds(o.kind)).map(_.durS)
    val (tail, pct, n) = Stats.tail(reads)
    (Reads :+ "commit").map(k => Named(s"${k}_p50_s",
      byKind.get(k).map(Stats.median).getOrElse(Double.NaN), "s",
      Seq("n" -> byKind.get(k).map(_.size).getOrElse(0).toString))) :+
      Named("scan_tail_s", tail, "s",
        Seq("percentile" -> Json.num(pct), "n" -> n.toString)) :+
      Named("table_rows", total._1.toDouble, "count") :+
      Named("table_bytes", cat.fileStats(Fq)._2.toDouble, "bytes")
  }

  override def coverage(spans: Seq[Span]): Option[(String, Seq[Double])] =
    Some("connector.read_coverage_min" -> Tracer.coverage(spans, "read",
      Set("connector.plan", "connector.exec")))

  def layerExtras(spans: Seq[Span], splits: Map[Int, Split]): Map[String, Double] = {
    val liveBytes = cat.fileStats(Fq)._2.toDouble
    val readRoots = spans.filter(r => r.parent < 0 && r.name == "read")
    def phase(name: String, kind: String) =
      spans.filter(x => x.name == name && x.tag == kind)
    val perKind = Reads.flatMap { k =>
      val plan = phase("connector.plan", k); val exec = phase("connector.exec", k)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Seq(s"connector.plan_s.$k" -> mean(plan.map(_.durS)),
        s"connector.exec_s.$k" -> mean(exec.map(_.durS)),
        s"connector.bytes_read_frac.$k" ->
          mean(exec.map(x => splits(x.id).inputBytes / liveBytes)))
    }
    (perKind :+ "connector.jobs_per_op" -> (if (readRoots.isEmpty) 0.0
      else readRoots.map(r => splits(r.id).nJobs).sum.toDouble / readRoots.size)).toMap
  }
}

object TableScans {
  val Fq = "b.s.li"
  val Reads = Seq("lookup", "range", "agg", "asof")
  /** Below sf0.1 lineitem's 600k rows: the bloom build in each of the
    * three set-ups bounds the size (see README.md). */
  val Rows = 400000L
  val Files = 8
  val HistoryCommits = 4
  val AppendRows = 2000
  val DeleteKeys = 50
  val RangeWidth = 20000L
}
