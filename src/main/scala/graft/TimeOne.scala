package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time one named query N times (warm JVM) and print the plan.
  * Usage: runMain graft.TimeOne <name> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (sys.env.contains("GRAFT_EXPLAIN"))
      fn(spark, sfDir).explain("formatted")
    // GRAFT_NOOP=1 measures like Bench does (noop write materializes all
    // rows+columns incl. final sort); default count() lets Catalyst
    // delete sorts — useful for isolating where time goes
    val noop = sys.env.contains("GRAFT_NOOP")
    // GRAFT_JOBS=1: per-job wall breakdown (guide §1 — find where a
    // multi-job query spends its time before touching anything)
    if (sys.env.contains("GRAFT_JOBS"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts(j.jobId) = (System.nanoTime(),
              Option(j.properties.getProperty("spark.job.description"))
                .getOrElse(""))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            starts.remove(j.jobId).foreach { case (t0, d) =>
              println(f"[job] ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s  $d")
            }
        })
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      val n = if (noop) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); -1L
      } else fn(spark, sfDir).count()
      println(f"[time] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
