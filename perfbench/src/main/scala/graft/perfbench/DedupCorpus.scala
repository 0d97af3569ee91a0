package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Generated documents: words from a synthetic vocabulary. The base
  * corpus is made of blocks of ten, where the last two documents of a
  * block are one-word edits of its first (a planted near-duplicate
  * family). Each probe batch mixes random documents with one-word edits
  * of random base documents (`source` names the base document a batch
  * document was copied from). */
object DedupGen {
  val Vocab = 5000
  val Words = 40
  val CorpusDocs = 5000
  val BatchDocs = 400
  val CopyShare = 0.2
  val ShingleN = 2
  val Bands = 8
  val ThresholdNum = 6
  val ThresholdDen = 10
  /** Batches generated per set-up: more than any run reaches. */
  val MaxBatches = 40

  private def word(i: Int) = "w" + Integer.toString(i, 36)

  private def randomDoc(rng: scala.util.Random): IndexedSeq[String] =
    IndexedSeq.fill(Words)(word(rng.nextInt(Vocab)))

  /** Replace one word away from both ends with a word not in the doc. */
  private def edit(doc: IndexedSeq[String], rng: scala.util.Random): IndexedSeq[String] = {
    val w = Iterator.continually(word(rng.nextInt(Vocab))).filterNot(doc.contains).next()
    doc.updated(2 + rng.nextInt(Words - 4), w)
  }

  def corpus(seed: Long): IndexedSeq[IndexedSeq[String]] = {
    val rng = new scala.util.Random(seed * 17 + 3)
    val docs = new Array[IndexedSeq[String]](CorpusDocs)
    (0 until CorpusDocs).foreach { i =>
      docs(i) = if (i % 10 >= 8) edit(docs(i - i % 10), rng) else randomDoc(rng)
    }
    docs.toIndexedSeq
  }

  /** Batch `b`: (id, words, source base id or -1). */
  def batch(seed: Long, b: Int, corpus: IndexedSeq[IndexedSeq[String]])
      : IndexedSeq[(Long, IndexedSeq[String], Int)] = {
    val rng = new scala.util.Random(seed * 1000003L + b)
    (0 until BatchDocs).map { j =>
      val id = CorpusDocs.toLong + b.toLong * BatchDocs + j
      if (rng.nextDouble() < CopyShare) {
        val src = rng.nextInt(CorpusDocs)
        (id, edit(corpus(src), rng), src)
      } else (id, randomDoc(rng), -1)
    }
  }

  /** The distinct word shingles `Dedup.shingleTerms` computes. */
  def shingles(doc: IndexedSeq[String]): Set[String] =
    doc.sliding(ShingleN).map(_.mkString(" ")).toSet

  /** (intersection, |a|, |b|) of two documents' shingle sets. */
  def overlap(a: IndexedSeq[String], b: IndexedSeq[String]): (Int, Int, Int) = {
    val (sa, sb) = (shingles(a), shingles(b))
    (sa.intersect(sb).size, sa.size, sb.size)
  }

  def aboveThreshold(inter: Int, sa: Int, sb: Int): Boolean =
    inter.toLong * ThresholdDen >= (sa + sb - inter).toLong * ThresholdNum
}

/** Incremental near-duplicate probes of new batches against a corpus
  * indexed once in set-up (`Dedup.minhashBands` / `Dedup.shingleTerms`). */
final class DedupCorpus(spark: SparkSession, tracer: Tracer, seed: Long)
    extends Workload {
  import DedupGen._

  private var dir = ""
  private var corpus: IndexedSeq[IndexedSeq[String]] = IndexedSeq.empty
  private var batches: IndexedSeq[IndexedSeq[(Long, IndexedSeq[String], Int)]] =
    IndexedSeq.empty
  private var index: DataFrame = _
  private var terms: DataFrame = _
  private val pairsPerBatch = scala.collection.mutable.ArrayBuffer.empty[Int]

  private def batchDir(b: Int) = s"$dir/batches/batch=$b"

  def setup(d: String): Unit = {
    dir = d
    pairsPerBatch.clear()
    import spark.implicits._
    corpus = DedupGen.corpus(seed)
    batches = (0 until MaxBatches).map(DedupGen.batch(seed, _, corpus))
    // one write for all batches; each batch is one partition directory
    batches.indices.flatMap(b => batches(b).map { case (id, w, _) =>
      (b, id, w.mkString(" ")) })
      .toDF("batch", "id", "text").repartition(col("batch"))
      .write.partitionBy("batch").parquet(s"$dir/batches")
    val base = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) }
      .toDF("id", "text")
    Dedup.minhashBands(base, "id", "text", ShingleN, Bands)
      .write.parquet(s"$dir/index")
    Dedup.shingleTerms(base, "id", "text", ShingleN).write.parquet(s"$dir/terms")
    index = spark.read.parquet(s"$dir/index")
    terms = spark.read.parquet(s"$dir/terms")
  }

  // batch latency keeps falling for about twenty batches while the JIT
  // compiles the hashing, join and planning paths; five untimed batches
  // take the steepest part of that curve out of the timed loop
  def warmupSteps: Int = 5

  def maxSteps: Int = MaxBatches

  def step(i: Int): Outcome = {
    val (pairs, dt) = Workload.timed(tracer.op("batch") {
      val res = tracer.span("operators.plan")(Dedup.incrementalNearDupes(
        spark.read.parquet(batchDir(i)), "id", "text", index, terms,
        ShingleN, Bands, ThresholdNum, ThresholdDen))
      tracer.span("operators.exec")(res.collect())
    })
    pairsPerBatch += pairs.length
    val docs = batches(i).map { case (id, w, _) => id -> w }.toMap
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    // every reported pair really is above the threshold, with the
    // counts the benchmark recomputes from the generated text
    val reportedOk = pairs.forall { r =>
      val (inter, sa, sb) = overlap(docs(r.getLong(0)), corpus(r.getLong(1).toInt))
      r.getLong(2) == inter && r.getLong(3) == sa && r.getLong(4) == sb &&
        aboveThreshold(inter, sa, sb)
    }
    // every planted copy is found against its source
    val plantedOk = batches(i).forall { case (id, w, src) =>
      src < 0 || !{ val (x, a, b) = overlap(w, corpus(src)); aboveThreshold(x, a, b) } ||
        found((id, src.toLong))
    }
    Outcome("batch", dt, reportedOk && plantedOk, BatchDocs)
  }

  def finalCheck(): Seq[String] = Nil

  def latencyKinds: Set[String] = Set("batch")

  def named(ops: Seq[OpRec]): Seq[Named] = {
    val b = ops.filter(_.kind == "batch").map(_.durS)
    Seq(Named("dedup_batch_p50_s", Stats.median(b), "s", Seq("n" -> b.size.toString)),
      Named("dedup_docs_per_s", ops.map(_.units).sum / ops.map(_.durS).sum, "1/s"),
      Named("corpus_docs", CorpusDocs.toDouble, "count"),
      Named("batch_docs", BatchDocs.toDouble, "count"))
  }

  def layerExtras(spans: Seq[Span], splits: Map[Int, Split]): Map[String, Double] = {
    val roots = spans.filter(r => r.parent < 0 && r.name == "batch")
    Map(
      "operators.shuffle_mb" -> (if (roots.isEmpty) 0.0
        else roots.map(r => splits(r.id).shuffleWriteBytes).sum / 1048576.0 / roots.size),
      "operators.pairs_per_batch" -> (if (pairsPerBatch.isEmpty) 0.0
        else pairsPerBatch.sum.toDouble / pairsPerBatch.size),
      "operators.docs_per_batch" -> BatchDocs.toDouble)
  }
}
