package graft

/** Plan/timing diagnostics: `runMain graft.Explain <sfDir> [query ...]`
  * prints each query's formatted physical plan and wall time (two runs —
  * cold and warm). With no query names, runs all. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session(Harness.cpus)
    spark.range(100000).selectExpr("sum(id)").collect() // warm
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: unknown query ==")
        case Some(fn) =>
          println(s"\n===== $name =====")
          if (sys.env.get("GRAFT_EXPLAIN_PLAN").forall(_ == "1"))
            fn(spark, sfDir).explain("formatted")
          (1 to 2).foreach { i =>
            val t0 = System.nanoTime()
            val n = fn(spark, sfDir).count()
            println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
          }
      }
    }
    spark.stop()
  }
}
