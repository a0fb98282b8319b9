package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import graft.sources.{ManifestRuntimeScan, ManifestScanBuilder}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.LessThan

/** Round-12 wave 174: plan-time statistics from the admitted file set
  * (SupportsReportStatistics). Claims proven here:
  *
  *  - the scan reports Σ admitted-file bytes; a pushed band SHRINKS
  *    the estimate (pruning feeds the cost model, the real formats'
  *    planner contract)
  *  - a small manifest dim STATICALLY broadcasts in a join against a
  *    large non-manifest fact, with AQE disabled — no runtime rescue
  *    needed (a stats-less V2 scan reports defaultSizeInBytes ≈ 2^63
  *    and can never build a static broadcast)
  */
class Wave174Spec extends SparkSpec {

  private def joinsOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => joinsOf(a.executedPlan)
    case q: QueryStageExec => joinsOf(q.plan)
    case b: BroadcastHashJoinExec => b +: b.children.flatMap(joinsOf)
    case other => other.children.flatMap(joinsOf)
  }

  test("estimateStatistics reports admitted bytes; bands shrink it") {
    val root = Files.createTempDirectory("graft_w174_st").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 4000).selectExpr("id AS k", "id * 3 AS v")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "b", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    def scan(fs: Array[org.apache.spark.sql.sources.Filter]) = {
      val b = new ManifestScanBuilder(spark.sqlContext, root, 1, df.schema)
      b.pushFilters(fs)
      b.build().asInstanceOf[ManifestRuntimeScan]
    }
    val full = scan(Array.empty).estimateStatistics()
    val data = root.resolve("data")
    val want = ManifestTable.filesFor(root, 1)
      .map(f => Files.size(data.resolve(f))).sum
    assert(full.sizeInBytes.getAsLong == want,
      s"full size ${full.sizeInBytes} != Σ files $want")
    val banded = scan(Array(LessThan("k", 1000L))).estimateStatistics()
    assert(banded.sizeInBytes.getAsLong < want,
      "a pushed band must shrink the estimate (pruned files drop out)")
  }

  test("a small manifest dim statically broadcasts (AQE off)") {
    val cat = "w174bc"
    val wh = Files.createTempDirectory("graft_w174_bc")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.dim USING `graft-manifest` AS " +
      "SELECT id AS dk, concat('n', id) AS name FROM range(64)")
    spark.range(0, 200000).selectExpr("id % 64 AS fk", "id AS x")
      .createOrReplaceTempView("w174_fact")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.sql(
        s"""SELECT f.fk, f.x, d.name FROM w174_fact f
           |JOIN $cat.dim d ON f.fk = d.dk""".stripMargin)
      val bhj = joinsOf(df.queryExecution.executedPlan)
      assert(bhj.nonEmpty,
        s"the 64-row manifest dim must STATICALLY broadcast:\n" +
        df.queryExecution.executedPlan)
      assert(df.count() == 200000)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
