package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.catalog.TableCatalog

/** What one closed-loop operation did: its kind, the seconds its calls
  * into the engine took (answer checks excluded), whether its answer
  * matched what the generator knows, and the work units it completed
  * (rows ingested, operations, documents probed). */
final case class Outcome(kind: String, durS: Double, ok: Boolean,
    units: Double, detail: String = "")

/** One timed operation as the harness saw it. */
final case class OpRec(kind: String, durS: Double, units: Double,
    traced: Boolean)

/** A named measurement with its unit, printed on the report line. */
final case class Named(name: String, value: Double, unit: String,
    extra: Seq[(String, String)] = Nil)

trait Workload {
  /** Generate every input from the seed and build the state the timed
    * loop starts from, all under `dir`. Called several times per run
    * (each call starts over), so set-up time is a median. */
  def setup(dir: String): Unit

  /** Untimed, checked operations that let lazy set-up and JIT finish. */
  def warmupSteps: Int

  /** Operations the generated inputs allow; the loop stops there. */
  def maxSteps: Int

  /** One closed-loop operation. `i` counts from 0 across warm-up and the
    * timed loop. Throwing counts as a failed operation. */
  def step(i: Int): Outcome

  /** Checks on the final state (outside timing); returns the failures. */
  def finalCheck(): Seq[String]

  /** Kinds whose latency is the workload's `op_p50_s`. */
  def latencyKinds: Set[String]

  /** The workload's `op_p50_s`: the median latency of `latencyKinds`. */
  def opP50(ops: Seq[OpRec]): Double =
    Stats.median(ops.filter(o => latencyKinds(o.kind)).map(_.durS))

  /** A traced run's coverage floor, if the workload has one: the
    * per-layer metric's name and, per traced operation, the share of its
    * time its layer spans cover. */
  def coverage(spans: Seq[Span]): Option[(String, Seq[Double])] = None

  /** The workload's own end-to-end measurements, by the names the
    * benchmark documentation uses. */
  def named(ops: Seq[OpRec]): Seq[Named]

  /** Per-layer numbers only this workload can compute (traced run). */
  def layerExtras(spans: Seq[Span], splits: Map[Int, Split]): Map[String, Double]
}

/** The engine's catalog with the entry points the workloads' operations
  * call wrapped in a span; each override times the call and delegates.
  * Appends to `logTable` are the IngestLog's own. */
final class TracedCatalog(spark: SparkSession, root: String, tracer: Tracer,
    logTable: String = "") extends TableCatalog(spark, root) {
  override def append(fq: String, df: DataFrame): Unit =
    tracer.span(if (fq == logTable) "catalog.log_append" else "catalog.append",
      fq)(super.append(fq, df))
  override def updateWhere(fq: String, assignments: Map[String, Column],
      where: Column): Unit =
    tracer.span("catalog.update_where", fq)(super.updateWhere(fq, assignments, where))
  override def read(fq: String): DataFrame =
    tracer.span("catalog.read", fq)(super.read(fq))
  override def deleteWhereDV(fq: String, where: Column): Unit =
    tracer.span("catalog.delete_dv", fq)(super.deleteWhereDV(fq, where))
}

object Workload {
  /** `body`'s result and its wall-clock seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def catalog(spark: SparkSession, root: String, tracer: Tracer,
      logTable: String = ""): TableCatalog =
    if (tracer.enabled) new TracedCatalog(spark, root, tracer, logTable)
    else new TableCatalog(spark, root)

  /** Bytes under a local directory. */
  def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Seeded deck: `counts` copies of each kind, shuffled, dealt round
    * after round, so every window of one deck has the same mix. */
  def deck[K](seed: Long, counts: Seq[(K, Int)], n: Int): IndexedSeq[K] = {
    val rng = new scala.util.Random(seed)
    val one = counts.flatMap { case (k, c) => Seq.fill(c)(k) }
    Iterator.continually(rng.shuffle(one)).flatten.take(n).toIndexedSeq
  }
}
