package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameFilterCsv]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only: comma-separated query-name prefixes to restrict the run
    // (the driver always calls with 2 args = full registry)
    val nameFilter: String => Boolean =
      if (args.length == 3) { val ps = args(2).split(",").toSeq
        name => ps.exists(name.startsWith) }
      else _ => true
    val spark = Harness.session(Harness.cpus)
    new java.io.File(outDir).mkdirs()
    // A query that throws must still leave a visible artifact: a marker
    // parquet whose schema (`__error`) can never match an oracle, so the
    // driver's compare shows a RED row instead of silently dropping the
    // query from the registry (the r4 failure mode — 10 queries vanished
    // from CORRECTNESS with nothing flagging the shrinkage).
    val selected = SparkEntry.queries.filter(kv => nameFilter(kv._1))
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(800)
        System.err.println(s"[verify] $name failed: $msg")
        failed += name -> msg
        try {
          import spark.implicits._
          Seq(msg).toDF("__error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case inner: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${inner.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => nameFilter(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure manifest (always written, empty object when clean) plus a
    // registry-size selfcheck: one result dir per registered query.
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // Count only dirs named for CURRENTLY-selected queries — a reused
    // outDir may hold stale dirs from a prior full/filtered run, and a
    // false MISMATCH alarm would train readers to ignore the real one.
    val resultDirs = new java.io.File(outDir).listFiles
      .count(f => f.isDirectory && selected.contains(f.getName))
    System.err.println(
      s"[verify] completed ${selected.size - failed.size}/${selected.size} queries" +
        (if (failed.nonEmpty) s"; FAILED: ${failed.keys.mkString(",")}" else ""))
    if (resultDirs != selected.size)
      System.err.println(s"[verify] SELFCHECK MISMATCH: $resultDirs result dirs " +
        s"for ${selected.size} registered queries")
    spark.stop()
  }
}
