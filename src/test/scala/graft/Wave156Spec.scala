package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import graft.sources.{ManifestRuntimeScan, ManifestScanBuilder}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In

/** Round-11 wave 156: SupportsRuntimeFiltering on the V2 scan
  * (r10-VERDICT task 2) — clean snapshots now execute on a NATIVE
  * vectorized ParquetScan batch path that accepts runtime join
  * filters. Claims proven here:
  *
  *  - scan.filter(In(join keys)) re-prunes the admitted file set
  *    below the static admit (per-value binary search, and through
  *    hidden-partition bucket derivation)
  *  - end to end: a broadcast star join injects a DPP subquery into
  *    the BatchScanExec (runtimeFilters non-empty) and the executed
  *    scan's admitted set shrank; the result equals the plain join
  *  - the native path matches the V1 bridge row-for-row on a pruned
  *    band scan (columnar execution is a plan change, not a result
  *    change)
  */
class Wave156Spec extends SparkSpec {

  /** Every BatchScanExec, descending through AQE wrappers (the
    * executed AdaptiveSparkPlan hides its current plan from collect).
    */
  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scansOf) ++
      other.subqueries.flatMap(scansOf)
  }

  test("runtime IN filters re-prune the admitted set; hidden buckets " +
    "derive per value") {
    val root = Files.createTempDirectory("graft_w156_rt").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 1600).selectExpr("id AS k", "id * 2 AS v")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(16, col("k")), root, "base", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    val scan = new ManifestScanBuilder(spark.sqlContext, root, 1,
      df.schema).build().asInstanceOf[ManifestRuntimeScan]
    val all = scan.admittedEntries.size
    assert(all == 16, s"fixture must have 16 files, got $all")
    scan.filter(Array[org.apache.spark.sql.sources.Filter](In("k", Array[Any](5L, 7L, 1205L))))
    val pruned = scan.admittedEntries
    assert(pruned.size == 2,
      s"IN {5,7,1205} must admit exactly the 2 banded files: " +
      s"${pruned.map(_.path)}")
    // hidden bucket layout: runtime IN derives per-value buckets
    val hroot = Files.createTempDirectory("graft_w156_hb").resolve("t")
    Files.createDirectories(hroot)
    val tr = Seq(ManifestTable.BucketTransform(16, "k"))
    ManifestTable.commit(hroot, ManifestTable.stageHidden(
      df, hroot, "hb", tr, files = 16),
      s"schema=${ManifestTable.schemaMeta(df.schema)} " +
        ManifestTable.transformsMeta(tr))
    val hscan = new ManifestScanBuilder(spark.sqlContext, hroot, 1,
      df.schema).build().asInstanceOf[ManifestRuntimeScan]
    val hall = hscan.admittedEntries.size
    hscan.filter(Array[org.apache.spark.sql.sources.Filter](In("k", Array[Any](42L))))
    val hpruned = hscan.admittedEntries.size
    assert(hpruned < hall,
      s"runtime IN must prune through the bucket layout: $hpruned/$hall")
  }

  test("a broadcast star join injects a runtime filter and shrinks " +
    "the executed scan's admitted set") {
    val cat = "w156rt"
    val wh = Files.createTempDirectory("graft_w156_cat")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.f (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.range(0, 1600).selectExpr("id AS k", "id AS v")
      .repartitionByRange(16, col("k"))
      .createOrReplaceTempView("w156_fact_src")
    spark.sql(s"INSERT INTO $cat.f SELECT * FROM w156_fact_src")
    // dim: 8 keys, all in one narrow band; the dim filter is on a
    // NON-join column so no static constraint reaches the fact
    spark.range(0, 8).selectExpr("id + 100 AS dk", "id AS tag")
      .createOrReplaceTempView("w156_dim")
    val df = spark.sql(
      s"""SELECT f.k, f.v, d.tag FROM $cat.f f
         |JOIN w156_dim d ON f.k = d.dk
         |WHERE d.tag < 100""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 8 && rows.forall(r => r.getLong(0) >= 100 &&
      r.getLong(0) < 108), s"join result wrong: ${rows.take(3).toSeq}")
    val scans = scansOf(df.queryExecution.executedPlan)
    val fact = scans.find(_.scan.isInstanceOf[ManifestRuntimeScan])
      .getOrElse(fail(s"no native manifest scan in:\n" +
        df.queryExecution.executedPlan))
    assert(fact.runtimeFilters.nonEmpty,
      "the optimizer must inject a DPP runtime filter into the scan")
    // execution called scan.filter(...) with the dim's join keys —
    // the admitted set visible on the scan instance shrank below the
    // 16-file static admit
    val admitted = fact.scan.asInstanceOf[ManifestRuntimeScan]
      .admittedEntries.size
    assert(admitted < 16 && admitted >= 1,
      s"runtime filter must shrink the admitted set, got $admitted/16")
  }

  test("the native path matches the V1 bridge row-for-row on a " +
    "pruned band scan") {
    val root = Files.createTempDirectory("graft_w156_eq").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 500)
      .selectExpr("id AS k", "concat('s', id) AS s",
        "cast(id AS double) / 3.0 AS p")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(5, col("k")), root, "b",
      Seq("k"), Seq("s"), Seq("p")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    // native V2 path (catalog-free: the TableProvider short name)
    val native = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load()
      .filter(col("k").between(100, 199)).orderBy("k")
    native.collect()
    val nativeScan = scansOf(native.queryExecution.executedPlan)
    assert(nativeScan.nonEmpty &&
      nativeScan.head.scan.isInstanceOf[ManifestRuntimeScan],
      s"clean snapshot must plan the native scan:\n${plan(native)}")
    // V1 bridge path
    val v1 = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("k").between(100, 199)).orderBy("k")
    assert(native.collect().toSeq == v1.collect().toSeq,
      "native and V1 paths must agree row-for-row")
  }
}
