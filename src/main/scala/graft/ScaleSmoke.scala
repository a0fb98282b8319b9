package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time a comma-separated query list at one or more SF dirs in
  * a single warm JVM (noop write — same materialization as Bench).
  * Partner of [[ScaleSynth]] for the 10× scale smoke: the shared pair
  * index and ANN index are (pid, dir)-keyed, so within a run each dir
  * pays its mining/layout once on the first consumer, like a real
  * pipeline snapshot would.
  *
  * Usage: runMain graft.ScaleSmoke <dir1,dir2,...> <q1,q2,...>
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val dirs = args(0).split(",")
    val names = args(1).split(",")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dirs.foreach { dir =>
      var total = 0.0
      names.foreach { name =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        total += s
        println(f"[smoke] $dir $name: $s%.2f s")
      }
      println(f"[smoke] $dir TOTAL(${names.length} queries): $total%.2f s")
    }
    spark.stop()
  }
}
