package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Measurement tool (r13-VERDICT item 6, r14): isolate the one-job
  * typed-stats win at a 64-file commit. Times (a) the shipped
  * stageWithTypedStats (ONE grouped agg keyed by input_file_name) vs
  * (b) the r12 shape it replaced — one driver-sequential Spark
  * aggregate per staged file. Run:
  *   SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.StatsAB [files] [reps]"
  */
object StatsAB {
  def main(args: Array[String]): Unit = {
    val nFiles = if (args.length > 0) args(0).toInt else 64
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val orders = Tables.table(spark, "/root/testdata/sf0.1", "orders")
    for (r <- 1 to reps) {
      // (a) shipped one-job path, staging included both sides equally
      val rootA = Files.createTempDirectory("graft_statsab_one")
      var t0 = System.nanoTime()
      val entries = ManifestTable.stage(
        orders.repartition(nFiles), rootA, "b",
        Seq("o_orderkey", "o_custkey"), Seq("o_orderstatus"))
      val tOne = (System.nanoTime() - t0) / 1e9
      // (b) r12 shape: stage identically, then ONE agg job PER file
      val rootB = Files.createTempDirectory("graft_statsab_per")
      t0 = System.nanoTime()
      val staged = ManifestTable.stage(orders.repartition(nFiles), rootB, "b")
      val perFile = staged.map { rel =>
        spark.read.schema(orders.schema)
          .parquet(rootB.resolve("data").resolve(rel).toString)
          .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"),
            min("o_custkey"), max("o_custkey"),
            min("o_orderstatus"), max("o_orderstatus"))
          .head()
      }
      val tPer = (System.nanoTime() - t0) / 1e9
      println(f"[statsab] rep$r files=$nFiles one-job=$tOne%.2f s " +
        f"(entries=${entries.size}) per-file=$tPer%.2f s " +
        f"(rows=${perFile.size})")
    }
    spark.stop()
  }
}
