package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.expressions.GraftFunctions

/** Deduplication operators for training-data pipelines, built for
  * shuffle-shaped scale:
  *
  *  - exact / bag dedup: one hash-groupBy (map-side partial agg)
  *  - MinHash + LSH banding: per-row signature → bucket join;
  *    candidate verification touches only colliding pairs, never
  *    all-pairs
  *  - SimHash: 64-bit signature from token hashes, Hamming-style
  *    banding
  *  - n-gram Jaccard: exact verification on blocked candidate pairs —
  *    each document's distinct terms become ONE sorted array, and a
  *    pair's overlap is one merge walk
  *    ([[graft.functions.expressions.SortedIntersectCount]]) over the
  *    two arrays the pair joins to, not a term-level join and count
  *
  * Everything is relational (groupBy/join plus per-row kernels) — at
  * 100 TB each step is one shuffle keyed by doc/band, no driver
  * materialization and no all-pairs blowup: complexity is Σ bucket²,
  * controlled by band width.
  */
object Dedup {

  /** Exact dedup: canonical keeper (min id) per normalized-text hash. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), exactFingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** Distinct survivors after exact dedup (keeps the min-id doc). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactDuplicates(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, idCol)
  }

  /** MinHash signatures: for each (doc, band) the lexicographic min of
    * the seeded md5 over the doc's shingle set. Computed PER ROW by the
    * native [[graft.functions.expressions.MinHashSignature]] expression —
    * no explode, no shuffle (the earlier relational formulation shuffled
    * ~|doc|·|shingles|·bands rows through a groupBy). Returns
    * (id, band, minhash), value-identical to the relational/oracle form. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, bands: Int = 8): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // a small-document table often arrives as one row group → one task;
    // spread the md5-heavy signature work across the cluster first.
    // Gated on the input's partition count: a well-partitioned 100 TB
    // corpus must NOT be shuffled just to hash it — only under-split
    // inputs (fewer partitions than half the cluster) pay the spread.
    val base = df.select(col(idCol), col(textCol))
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (base.rdd.getNumPartitions < par / 2) base.repartition(par)
      else base
    spread.select(col(idCol),
        posexplode(GraftFunctions.minhashSignature(
          array_distinct(shingles(tokens(col(textCol)), shingleN)), bands))
          .as(Seq("band", "minhash")))
  }

  /** LSH candidate pairs: docs sharing any band minhash. Pairs are
    * produced per colliding bucket only (groupBy band+minhash), with
    * id_a < id_b canonical order. */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band"), col("minhash"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band"), col("minhash"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "minhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard between candidate pairs over a (id, term) relation
    * of DISTINCT terms: each document's terms are grouped into one
    * sorted array and every pair is verified by [[verifySorted]].
    * |A∪B| = |A|+|B|−|A∩B| is the caller's. Returns id_a, id_b, inter,
    * size_a, size_b for the pairs sharing at least one term
    * (integer-exact; thresholding is the caller's cross-multiplication). */
  def pairJaccardTerms(terms: DataFrame, pairs: DataFrame): DataFrame = {
    val sorted = sortedTerms(terms)
    verifySorted(pairs, sorted, sorted)
  }

  /** (id, terms): each id's terms as one array in `array_sort` order. */
  private def sortedTerms(terms: DataFrame): DataFrame =
    terms.groupBy(col("id")).agg(array_sort(collect_list(col("term"))).as("terms"))

  /** The one verify path of every pair consumer: `pairs` (id_a, id_b)
    * joined to the sorted, distinct term arrays of its two sides —
    * `left` (id, terms) for id_a, `right` (id, terms) for id_b — and
    * the overlap counted per pair by one merge walk. The sides stay
    * separate relations, so an id present on both (a new document
    * reusing a corpus id) keeps each side's own terms. Returns id_a,
    * id_b, inter, size_a, size_b (the counts as longs) for the pairs
    * sharing at least one term. */
  private def verifySorted(pairs: DataFrame, left: DataFrame,
      right: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"))
      .join(left.select(col("id").as("id_a"), col("terms").as("__ta")), "id_a")
      .join(right.select(col("id").as("id_b"), col("terms").as("__tb")), "id_b")
      .select(col("id_a"), col("id_b"),
        GraftFunctions.sortedIntersectCount(col("__ta"), col("__tb")).as("inter"),
        size(col("__ta")).cast("long").as("size_a"),
        size(col("__tb")).cast("long").as("size_b"))
      .filter(col("inter") > 0)

  /** (id, term) relation of distinct word-shingles. */
  def shingleTerms(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(shingles(tokens(col(textCol)), n))).as("term"))

  /** (id, term) relation of distinct character n-grams. */
  def charNgramTerms(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(array_distinct(charNgrams(col(textCol), n))).as("term"))

  /** Near-duplicate pairs at jaccard ≥ num/den (exact integer
    * comparison: den·inter ≥ num·union). */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, bands: Int = 8,
      thresholdNum: Int = 6, thresholdDen: Int = 10): DataFrame = {
    val cand = lshCandidates(minhashBands(df, idCol, textCol, shingleN, bands), idCol)
    val terms = shingleTerms(df, idCol, textCol, shingleN)
    pairJaccardTerms(terms, cand)
      .filter(col("inter") * thresholdDen >=
        (col("size_a") + col("size_b") - col("inter")) * thresholdNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"))
  }

  /** Incremental near-duplicate detection: probe a MATERIALIZED
    * signature index with a new batch, instead of re-signing the
    * corpus. This is the steady-state shape of a 100 TB ingest: the
    * (id, band, minhash) index and the (id, term) shingle relation are
    * written once (e.g. by [[minhashBands]]/[[shingleTerms]] into the
    * catalog, partitioned by band); each day's batch — typically 10⁻³
    * of the corpus — is signed locally, bucket-joined against the
    * index, and only colliding candidates fetch corpus shingles for
    * exact verification. Corpus-side work is proportional to
    * collisions, not corpus size.
    *
    * The batch is shingled once, into one sorted distinct array per
    * document; the signature and the verify both read that array
    * (MinHash is a min over a SET, so signing the array gives
    * [[minhashBands]]' values). The corpus side groups the colliding
    * documents' terms the same way, and [[verifySorted]] counts each
    * pair's overlap. Batch and corpus never share a relation, so a
    * batch id that reuses a corpus id verifies against its own text.
    *
    * @param corpusIndex (id, band, minhash) — existing signatures
    * @param corpusTerms (id, term) — existing distinct shingles
    * @return (id_new, id_old, inter, size_a, size_b) pairs with
    *         jaccard ≥ num/den (id_a = new, id_b = old in the sizes) */
  def incrementalNearDupes(newDocs: DataFrame, idCol: String, textCol: String,
      corpusIndex: DataFrame, corpusTerms: DataFrame,
      shingleN: Int, bands: Int,
      thresholdNum: Int, thresholdDen: Int): DataFrame = {
    GraftFunctions.register(newDocs.sparkSession)
    // a null id can never be reported (the pair joins drop it); dropping
    // it up front also keeps both uses of `cand` one plan, so they share
    // one evaluation (see `old`)
    val batch = newDocs.filter(col(idCol).isNotNull).select(col(idCol).as("id"),
      array_sort(array_distinct(shingles(tokens(col(textCol)), shingleN))).as("terms"))
    val cand = batch
      .select(col("id").as("id_a"), posexplode(
        GraftFunctions.minhashSignature(col("terms"), bands)).as(Seq("band", "minhash")))
      .join(corpusIndex.select(col("band"), col("minhash"),
        col("id").as("id_b")), Seq("band", "minhash"))
      .select("id_a", "id_b").distinct()
    // fetch corpus shingles ONLY for colliding ids — the semi join is
    // what keeps corpus-side cost ∝ collisions at 100 TB. The id set is
    // collision-bounded, so it is broadcast and the corpus terms are
    // filtered where they are scanned; it projects `cand` without a
    // distinct of its own, so the collision join's shuffle is reused,
    // not run a second time.
    val old = sortedTerms(corpusTerms.join(
      broadcast(cand.select(col("id_b").as("id"))), Seq("id"), "left_semi"))
    verifySorted(cand, batch, old)
      .filter(col("inter") * thresholdDen >=
        (col("size_a") + col("size_b") - col("inter")) * thresholdNum)
      .select(col("id_a").as("id_new"), col("id_b").as("id_old"),
        col("inter"), col("size_a"), col("size_b"))
  }

  /** 64-bit SimHash signature as a 64-char '0'/'1' string: bit j is the
    * sign of the sum over distinct tokens of (bit j of md5(token))·2−1.
    * Engine-portable: the bit source is hex-digit arithmetic on md5, the
    * aggregation an integer sum. */
  def simhashBits(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(array_distinct(tokens(lower(col(textCol))))).as("tok"))
      .withColumn("h", md5(col("tok").cast("binary")))
    val contrib = toks
      .select(col("id"), col("h"), explode(sequence(lit(0), lit(63))).as("j"))
      // hex digit j/4 of the md5, bit (3 - j%4) of that digit
      .withColumn("hexd", conv(substring(col("h"),
        (col("j").cast("int") / lit(4)).cast("int") + 1, lit(1)), 16, 10).cast("int"))
      .withColumn("bit",
        when(col("j") % 4 === 0, shiftright(col("hexd"), 3) % 2)
          .when(col("j") % 4 === 1, shiftright(col("hexd"), 2) % 2)
          .when(col("j") % 4 === 2, shiftright(col("hexd"), 1) % 2)
          .otherwise(col("hexd") % 2))
      .withColumn("delta", col("bit") * 2 - 1)
    val sums = contrib.groupBy(col("id"), col("j"))
      .agg(sum(col("delta")).as("s"))
      .withColumn("sigbit", when(col("s") > 0, lit("1")).otherwise(lit("0")))
    sums.groupBy(col("id"))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("j"), col("sigbit")))),
        x => x.getField("sigbit"))).as("simhash"))
  }
}
