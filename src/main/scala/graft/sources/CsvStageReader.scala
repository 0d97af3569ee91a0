package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.config.SourceSpec

/** One listed stage file (LIST stage PATTERN='regex' result shape).
  * reference: SF_Notebooks/RAW_ADLS_TO_RAW_SNOWFLAKE.py:662-673 */
final case class StagedFile(path: String, name: String, size: Long, modifiedAt: Long)

/** CSV stage reader: pattern-filtered file listing + schema-on-read CSV
  * scan matching the reference's format options (header inference,
  * quote, trim, permissive column-count handling, gz via extension).
  *
  * Scale note: the reference loops file-by-file issuing one COPY per
  * file (RAW_ADLS_TO_RAW_SNOWFLAKE.py:1180-1244). Here all matched files
  * that share a header go into ONE multi-file scan and per-file metadata
  * comes from input_file_name() — semantically the same per-file
  * lineage, one job instead of N.
  */
object CsvStageReader {

  /** List files under `dir` whose NAME matches `pattern`
    * (case-insensitive, find-anywhere — matching the reference's
    * client-side re.IGNORECASE search,
    * reference: SF_Notebooks/ADLS_FILE_PRECHECK.py:702-742). */
  def listFiles(spark: SparkSession, dir: String, pattern: Option[String]): Seq[StagedFile] = {
    val p = new Path(dir)
    val fs: FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val rx = pattern.map(rp => java.util.regex.Pattern.compile(rp,
      java.util.regex.Pattern.CASE_INSENSITIVE))
    fs.listStatus(p).toSeq.filter(_.isFile).map { st =>
      StagedFile(st.getPath.toString, st.getPath.getName, st.getLen,
        st.getModificationTime)
    }.filter(f => rx.forall(_.matcher(f.name).find())).sortBy(_.name)
  }

  /** The reference's CSV format options.
    * reference: RAW_ADLS_TO_RAW_SNOWFLAKE.py:675-691. */
  private def options(delimiter: String): Map[String, String] = Map(
    "delimiter" -> delimiter, "quote" -> "\"", "escape" -> "\"",
    "ignoreLeadingWhiteSpace" -> "true", "ignoreTrailingWhiteSpace" -> "true",
    "mode" -> "PERMISSIVE")

  /** Read the given files as CSV with the reference's [[options]].
    *
    * With a header, each file's header is read on the driver
    * ([[headerSchema]]: its first non-blank line, parsed and sanitised
    * the way Spark's own header inference does it) and handed to the
    * scan as its schema, so planning runs no inference job. Files with
    * the same header are one scan; files whose headers differ (columns
    * swapped, missing or added) are one scan each, combined BY NAME —
    * one header applied to every file would put values under the wrong
    * columns. */
  def read(spark: SparkSession, files: Seq[String], spec: SourceSpec): DataFrame = {
    require(files.nonEmpty, "no files to read")
    val base = spark.read.options(options(spec.delimiter))
    if (spec.columns.nonEmpty) // fixed headerless schema (humana Pharmacy_Claims)
      base.option("header", "false")
        .schema(StructType(spec.columns.map(c => StructField(c, StringType))))
        .csv(files: _*)
    else {
      val withHeader = base.option("header", "true").option("inferSchema", "false")
      // a file with no header line holds no rows and is left out
      val headers = files.zip(graft.util.Concurrent.forEach(files, 16)(
          f => headerSchema(spark, f, spec.delimiter)))
        .collect { case (f, Some(h)) => f -> h }
      if (headers.isEmpty) withHeader.csv(files: _*) // no rows: Spark's answer
      else headers.map(_._2).distinct.map { h => // in first-file order
        withHeader.schema(h).csv(headers.collect { case (f, `h`) => f }: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The all-string schema Spark's header inference gives `file` read
    * alone with [[read]]'s options: its first non-blank line, tokenised
    * by Spark's CSV parser settings, its names made safe by Spark's own
    * rule (blank → `_c<i>`, duplicate → name + index). None when the
    * file has no non-blank line. */
  def headerSchema(spark: SparkSession, file: String, delimiter: String)
      : Option[StructType] = {
    val conf = spark.sessionState.conf
    val opts = new org.apache.spark.sql.catalyst.csv.CSVOptions(
      options(delimiter) + ("header" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // the inference's filter is SQL trim(): blank means spaces only
    withLines(spark, file)(_.find(_.exists(_ != ' ')))
      .flatMap(line => Option(new com.univocity.parsers.csv.CsvParser(
        opts.asParserSettings).parseLine(line)))
      .map(row => StructType(org.apache.spark.sql.execution.datasources.csv.CSVUtils
        .makeSafeHeader(row, conf.caseSensitiveAnalysis, opts)
        .map(StructField(_, StringType))))
  }

  /** First `n` lines straight from the store, decompressed by codec
    * (so a .gz drop reads like the text scan) — a few-line read does
    * not warrant a Spark job per file. */
  def readHead(spark: SparkSession, file: String, n: Int): Seq[String] =
    withLines(spark, file)(_.take(n).toList)

  private def withLines[T](spark: SparkSession, file: String)
      (f: Iterator[String] => T): T = {
    val p = new Path(file)
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = p.getFileSystem(conf).open(p)
    try {
      val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
        .getCodec(p)
      val in: java.io.InputStream =
        if (codec != null) codec.createInputStream(raw) else raw
      val br = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      f(Iterator.continually(br.readLine()).takeWhile(_ != null))
    } finally raw.close()
  }

  /** Raw physical-line scan (FIELD_DELIMITER=NONE equivalent) for
    * precheck header/row inspection.
    * reference: SF_Notebooks/ADLS_FILE_PRECHECK.py:789-824 */
  def readLines(spark: SparkSession, file: String): DataFrame =
    spark.read.text(file)

  /** Typed PERMISSIVE read with row-level quarantine: rows that fail
    * the schema (wrong arity, unparsable types) carry their original
    * line in the corrupt-record column and route to an error relation
    * instead of poisoning the load — the row-level complement of the
    * file-level precheck gate (2.7): a file that PASSES precheck can
    * still hold a few mangled lines, and at 100 TB a load that dies on
    * row 10⁹ costs a full re-run, while quarantine costs one filter.
    *
    * The scan is cached before splitting: Spark disallows queries
    * whose only reference is the internal corrupt-record column, and
    * the cache also guarantees good/bad come from one pass.
    *
    * @return (good rows typed, quarantined raw lines) */
  def readWithQuarantine(spark: SparkSession, files: Seq[String],
      schema: StructType): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val full = schema.add(StructField(corrupt, StringType))
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .schema(full)
      .csv(files: _*)
      .cache()
    val good = df.filter(col(corrupt).isNull).drop(corrupt)
    val bad = df.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    (good, bad)
  }

  /** Each row's stage file name, as a listing names it:
    * `input_file_name()` is a URL-encoded URI (`a b.csv` reads
    * `a%20b.csv`, `%` reads `%25`), decoded here the way the precheck
    * decodes it — not with `url_decode`, which turns `+` into a
    * space. */
  def fileName: Column =
    udf((f: String) => new Path(new java.net.URI(f)).getName)
      .apply(input_file_name())
}
