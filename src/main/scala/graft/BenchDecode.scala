package graft

import org.apache.spark.sql.functions._

/** Micro-benchmark for the connector's decode paths on a DV-masked
  * table: vectorized (`MaskedColumnVector` survivor-map wrapping) vs
  * the boxed row reader — the measurement behind the COVERAGE.md
  * claim that keeping DV'd scans columnar is a real win, not a
  * refactor. Prints one line:
  * `DECODE_DV columnar=<s> row=<s> win=<x>`. */
object BenchDecode {
  def main(args: Array[String]): Unit = {
    val s = Harness.session(Harness.cpus)
    s.sparkContext.setLogLevel("ERROR")
    val work = java.nio.file.Files.createTempDirectory("decbench").toString
    val cat = new graft.catalog.TableCatalog(s, work)
    val df = s.range(4000000L).select(col("id").as("k"),
      (col("id") * 2.5).as("x"), (col("id") % 1000).cast("long").as("g"),
      concat(lit("value_"), col("id")).as("sv"))
    cat.overwrite("D.S.DEC", df.repartition(8))
    cat.deleteWhereDV("D.S.DEC", col("k") % 101 === 0)
    def rd(columnar: Boolean) = s.read.format("graft")
      .option("root", work).option("table", "D.S.DEC")
      .option("columnar", columnar.toString).load()
    def run(c: Boolean): Double = {
      val t0 = System.nanoTime()
      rd(c).agg(sum("k"), sum("x"), sum("g"), sum(length(col("sv"))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    run(c = true); run(c = false) // warm both paths
    val cols = (1 to 3).map(_ => run(c = true)).min
    val rows = (1 to 3).map(_ => run(c = false)).min
    println(f"DECODE_DV columnar=$cols%.2fs row=$rows%.2fs win=${rows / cols}%.2fx")
    s.stop()
  }
}
