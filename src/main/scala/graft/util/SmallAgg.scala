package graft.util

import org.apache.spark.sql.{Column, DataFrame, Encoders}

/** Driver-merged aggregates over LOW-CARDINALITY keys (the files of one
  * drop, the run ids of one batch). A `groupBy(...).count().collect()`
  * plans a shuffle, and under AQE every shuffle is its own stage job
  * plus a re-plan — pure fixed cost when the answer is a handful of
  * keys. Here each task counts its own partition's keys and the driver
  * merges the per-task maps: ONE job, no exchange. Never use it for
  * high-cardinality keys — every distinct key travels to the driver
  * once per task. */
object SmallAgg {

  /** Row count per distinct value of `key` (cast to string; a null
    * key counts under `null`). */
  def countBy(df: DataFrame, key: Column): Map[String, Long] =
    df.select(key.cast("string"))
      .mapPartitions { rows =>
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { r =>
          val k = r.getString(0)
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
        m.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
}
