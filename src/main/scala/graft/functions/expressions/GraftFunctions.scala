package graft.functions.expressions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Registration + Column-API façade for the engine's native Catalyst
  * expressions. Spark 4 removed the public Expression⇄Column bridge, so
  * the supported path is FunctionRegistry registration + call_function.
  *
  * Use either:
  *  - `GraftFunctions.register(spark)` once per session, or
  *  - `.withExtensions(new GraftExtensions)` at session build time.
  */
object GraftFunctions {

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_hamming" -> (exprs => HammingDistance(exprs(0), exprs(1))),
    "graft_rolling_hash" -> (exprs => RollingHash(exprs.head)),
    "graft_minhash" -> (exprs => MinHashSignature(exprs(0),
      exprs(1).eval().asInstanceOf[Int])),
    "graft_shingles" -> (exprs => WordShingles(exprs(0),
      exprs(1).eval().asInstanceOf[Int])),
    "graft_char_ngrams" -> (exprs => CharNgrams(exprs(0),
      exprs(1).eval().asInstanceOf[Int])),
    "graft_dot" -> (exprs => ArrayDot(exprs(0), exprs(1))),
    "graft_quant_dot" -> (exprs => ArrayQuantDot(exprs(0), exprs(1))),
    "graft_sign_sig" -> (exprs => SignSignature(exprs(0),
      exprs(1).eval().asInstanceOf[Int])),
    "graft_bloom_contains" -> (exprs => BloomContains(exprs(0), exprs(1))),
    "graft_long_dot" -> (exprs => LongArrayDot(exprs(0), exprs(1))),
    "graft_sorted_intersect" -> (exprs => SortedIntersectCount(exprs(0), exprs(1))),
    "graft_damerau" -> (exprs => DamerauLevenshtein(exprs(0), exprs(1))),
    "graft_jaro_winkler" -> (exprs => JaroWinkler(exprs(0), exprs(1))),
    "graft_nfc" -> (exprs => NfcNormalize(exprs.head)),
    "graft_strip_accents" -> (exprs => StripAccents(exprs.head)))

  /** Idempotent per-session registration (temp functions). */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val registry = castToImpl(spark).sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Hamming distance between two strings (SimHash signatures).
    * Requires registration. */
  def hamming(a: Column, b: Column): Column =
    call_function("graft_hamming", a, b)

  /** Karp–Rabin rolling-hash fingerprint of a string. Requires
    * registration. */
  def rollingHash(c: Column): Column =
    call_function("graft_rolling_hash", c)

  /** Per-row MinHash signature (array of `bands` md5-min values) over a
    * shingle-set array — no explode, no shuffle. Requires registration. */
  def minhashSignature(shingles: Column, bands: Int): Column =
    call_function("graft_minhash", shingles,
      org.apache.spark.sql.functions.lit(bands))

  /** Registers against the active session — for façades invoked from
    * generic Column-building code that can't thread a session through. */
  private def ensureActive(): Unit = register(SparkSession.active)

  /** Word n-gram shingles of a token array (native kernel). */
  def wordShingles(toks: Column, n: Int): Column = {
    ensureActive()
    call_function("graft_shingles", toks, org.apache.spark.sql.functions.lit(n))
  }

  /** Character n-grams of a string (native kernel). */
  def charNgramsNative(text: Column, n: Int): Column = {
    ensureActive()
    call_function("graft_char_ngrams", text, org.apache.spark.sql.functions.lit(n))
  }

  // the kernels read array<double>; the casts below are identity on
  // double arrays and a widening element cast on float arrays (same
  // values as the per-element x.cast("double") of the HOF formulation)

  /** Double dot product (left-to-right sum; null on length mismatch). */
  def arrayDot(a: Column, b: Column): Column = {
    ensureActive()
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))
  }

  /** Exact 1e-7-quantized integer dot product (engine-portable). */
  def arrayQuantDot(a: Column, b: Column): Column = {
    ensureActive()
    call_function("graft_quant_dot",
      a.cast("array<double>"), b.cast("array<double>"))
  }

  /** Integer dot over two array<long> columns (int8 ANN coarse scan). */
  def longArrayDot(a: Column, b: Column): Column = {
    ensureActive()
    call_function("graft_long_dot", a, b)
  }

  /** Intersection size of two sorted, duplicate-free string arrays
    * (`array_sort(array_distinct(...))`), by one merge walk. */
  def sortedIntersectCount(a: Column, b: Column): Column = {
    ensureActive()
    call_function("graft_sorted_intersect", a, b)
  }

  /** Hyperplane sign-signature LSH bucket key. */
  def signSignature(vec: Column, planes: Int): Column = {
    ensureActive()
    call_function("graft_sign_sig", vec.cast("array<double>"),
      org.apache.spark.sql.functions.lit(planes))
  }

  /** Probe a serialized bloom filter (BINARY literal) with a long key. */
  def bloomContains(key: Column, serializedFilter: Array[Byte]): Column = {
    ensureActive()
    call_function("graft_bloom_contains", key.cast("long"),
      org.apache.spark.sql.functions.lit(serializedFilter))
  }

  /** Full Damerau–Levenshtein edit distance (int). */
  def damerauLevenshtein(a: Column, b: Column): Column = {
    ensureActive()
    call_function("graft_damerau", a, b)
  }

  /** Jaro–Winkler similarity in [0, 1] (double). */
  def jaroWinkler(a: Column, b: Column): Column = {
    ensureActive()
    call_function("graft_jaro_winkler", a, b)
  }

  /** Unicode NFC canonical composition. */
  def nfcNormalize(c: Column): Column = {
    ensureActive()
    call_function("graft_nfc", c)
  }

  /** NFD + combining-mark removal ("á" → "a") for accent-insensitive
    * match keys. */
  def stripAccents(c: Column): Column = {
    ensureActive()
    call_function("graft_strip_accents", c)
  }
}

/** Session-extension wiring: injects the native functions at session
  * build time (`SparkSession.builder().withExtensions(new
  * GraftExtensions)`), the deployment-grade alternative to per-session
  * temp registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}
