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
  * go into ONE multi-file scan and per-file metadata comes from
  * input_file_name() — semantically the same per-file lineage, one job
  * instead of N.
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

  /** Read the given files as one CSV scan with the reference's options.
    * reference options: RAW_ADLS_TO_RAW_SNOWFLAKE.py:675-691. */
  def read(spark: SparkSession, files: Seq[String], spec: SourceSpec): DataFrame = {
    require(files.nonEmpty, "no files to read")
    val base = spark.read
      .option("delimiter", spec.delimiter)
      .option("quote", "\"")
      .option("escape", "\"")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .option("mode", "PERMISSIVE")
    val reader =
      if (spec.columns.nonEmpty) // fixed headerless schema (humana Pharmacy_Claims)
        base.option("header", "false")
          .schema(StructType(spec.columns.map(c => StructField(c, StringType))))
      else base.option("header", "true").option("inferSchema", "false")
    reader.csv(files: _*)
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
