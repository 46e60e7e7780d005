package perfbench

import org.apache.spark.sql.SparkSession

/** Times each query with `count()` as the action and with every row and
  * column written to the `noop` sink, to show how much work `count()` lets
  * Spark prune. Medians of `reps` executions after one warm-up each.
  *
  * Usage: CountGap DATA_DIR THREADS REPS q1,q2,... */
object CountGap {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, threads, reps, queries) = args
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val registry = graft.SparkEntry.queries
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def time(name: String, action: String): Double = {
      val t0 = System.nanoTime()
      val df = registry(name)(spark, dataDir)
      if (action == "count") df.count(): Unit
      else df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      dt
    }
    println("query count_s noop_s noop/count")
    for (q <- queries.split(",")) {
      val Seq(c, n) = Seq("count", "noop").map { a =>
        time(q, a)
        median((1 to reps.toInt).map(_ => time(q, a)))
      }
      println(f"$q $c%.3f $n%.3f ${n / c}%.2f")
    }
    spark.stop()
  }
}
