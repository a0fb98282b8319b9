package graft

import java.nio.file.Files

import graft.operators.{ManifestOps, ManifestTable}
import graft.sources.{ManifestRuntimeScan, ManifestScanBuilder, ManifestV2Scan}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Round-12 wave 166 — r11-VERDICT task 3: the native
  * runtime-filterable scan now covers deletion-vector and
  * column-mapped snapshots (round 11 fell back to the V1 bridge for
  * them). Claims proven here:
  *
  *  - all three vector kinds (key / scoped / positional) ride
  *    BatchScanExec with a ManifestRuntimeScan and match their
  *    DataFrame MOR readers row-for-row
  *  - the key widening is invisible: a projection WITHOUT the key
  *    still subtracts correctly
  *  - file pruning composes with DV subtraction (readMOR never
  *    pruned); DPP injects and shrinks the admitted set on a DV'd
  *    fact
  *  - column mapping is schema aliasing: pushed filters on renamed
  *    columns translate and the plan stays native
  *  - a non-BIGINT sidecar key keeps the V1 bridge (loud contract)
  */
class Wave166Spec extends SparkSpec {

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scansOf) ++
      other.subqueries.flatMap(scansOf)
  }

  private def assertNative(df: org.apache.spark.sql.DataFrame): Unit = {
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty &&
      scans.exists(_.scan.isInstanceOf[ManifestRuntimeScan]),
      s"expected the native scan:\n${df.queryExecution.executedPlan}")
  }

  test("key-DV snapshots ride the native scan and match readMOR; " +
    "projection without the key still subtracts") {
    val root = ManifestOps.morRoot(spark, sfDir)
    val orders = Tables.table(spark, sfDir, "orders")
    val native = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).option("version", "2").load()
      .orderBy("o_orderkey")
    assertNative(native)
    val viaMor = ManifestTable.readMOR(spark, root, 2, orders.schema,
      "o_orderkey").orderBy("o_orderkey")
    assert(native.collect().toSeq == viaMor.collect().toSeq,
      "native scan must equal readMOR row-for-row")
    // key pruned away: the delegate widens, the consumer never sees it
    val noKey = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).option("version", "2").load()
      .select("o_custkey", "o_totalprice")
    assertNative(noKey)
    assert(noKey.count() == viaMor.count(),
      "keyless projection must still subtract deleted rows")
    // pruning composes with subtraction (readMOR reads everything)
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val banded = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).option("version", "2").load()
      .filter(col("o_orderkey") < mx / 4)
    val bandedScan = scansOf(banded.queryExecution.executedPlan)
      .map(_.scan).collectFirst { case s: ManifestRuntimeScan => s }.get
    assert(bandedScan.admittedEntries.size <
      ManifestTable.filesFor(root, 2).size,
      "a key band must still skip files on a DV'd snapshot")
    val want = viaMor.filter(col("o_orderkey") < mx / 4).count()
    assert(banded.count() == want, "pruned DV read must stay exact")
  }

  test("scoped vectors (dvp) ride the native scan via one partition " +
    "per file") {
    val root = Files.createTempDirectory("graft_w166_dvp").resolve("t")
    Files.createDirectories(root)
    // duplicate rows across files: only the SCOPED copy must die
    val df = spark.range(0, 300).selectExpr("id AS k", "id * 3 AS v")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(3, col("k")), root, "base", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    ManifestTable.appendCommit(root, ManifestTable.stage(
      df.filter(col("k") < 100).coalesce(1), root, "dup"))
    ManifestTable.deleteMORScoped(spark, root,
      spark.range(0, 50).selectExpr("id AS k"), "k", df.schema)
    val v = ManifestTable.latestVersion(root)
    val native = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load().orderBy("k", "v")
    assertNative(native)
    val viaMor = ManifestTable.readMORScoped(spark, root, v, df.schema,
      "k").orderBy("k", "v")
    assert(native.collect().toSeq == viaMor.collect().toSeq,
      "native scoped subtraction must equal readMORScoped")
  }

  test("positional vectors (dvr) ride the native scan; row counting " +
    "equals _metadata.row_index semantics") {
    val root = ManifestOps.morPositionalRoot(spark, sfDir)
    val orders = Tables.table(spark, sfDir, "orders")
    val native = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load()
      .orderBy("o_orderkey", "o_custkey")
    assertNative(native)
    val viaMor = ManifestTable.readMORPositional(spark, root, 3,
      orders.schema).orderBy("o_orderkey", "o_custkey")
    assert(native.collect().toSeq == viaMor.collect().toSeq,
      "native positional subtraction must equal readMORPositional")
    // a pushed filter must NOT reach the delegate (row-group skips
    // would shift counts) but results stay exact via the residual
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val filtered = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load()
      .filter(col("o_orderkey") > mx / 2)
    assert(filtered.count() ==
      viaMor.filter(col("o_orderkey") > mx / 2).count())
  }

  test("DPP injects into a DV'd fact and shrinks its admitted set") {
    val cat = "w166dpp"
    val wh = Files.createTempDirectory("graft_w166_dpp")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.f (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.range(0, 1600).selectExpr("id AS k", "id AS v")
      .repartitionByRange(16, col("k"))
      .createOrReplaceTempView("w166_fact_src")
    spark.sql(s"INSERT INTO $cat.f SELECT * FROM w166_fact_src")
    // make it a DV'd snapshot: kill every %5 key by key vector
    ManifestTable.deleteMOR(wh.resolve("f"),
      spark.range(0, 1600).filter(col("id") % 5 === 0)
        .selectExpr("id AS k"))
    spark.range(0, 8).selectExpr("id + 100 AS dk", "id AS tag")
      .createOrReplaceTempView("w166_dim")
    val df = spark.sql(
      s"""SELECT f.k, f.v, d.tag FROM $cat.f f
         |JOIN w166_dim d ON f.k = d.dk
         |WHERE d.tag < 100""".stripMargin)
    val rows = df.collect()
    // keys 100..107 minus the %5 ones (100, 105)
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      Seq(101L, 102L, 103L, 104L, 106L, 107L),
      s"DV'd star join wrong: ${rows.toSeq}")
    val fact = scansOf(df.queryExecution.executedPlan)
      .find(_.scan.isInstanceOf[ManifestRuntimeScan])
      .getOrElse(fail("no native scan on the DV'd fact"))
    assert(fact.runtimeFilters.nonEmpty, "DPP filter must inject")
    assert(fact.scan.asInstanceOf[ManifestRuntimeScan]
      .admittedEntries.size < 16,
      "runtime filter must shrink the DV'd fact's admitted set")
  }

  test("column mapping is native: renamed-column filters translate, " +
    "plan stays BatchScanExec") {
    val root = ManifestOps.evo2Root(spark, sfDir)
    val orders = Tables.table(spark, sfDir, "orders")
    val native = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load()
      .filter(col("o_price") > 1000.0).orderBy("o_orderkey")
    assertNative(native)
    val viaEvolved = ManifestTable.readEvolved(spark, root,
        ManifestTable.latestVersion(root))
      .filter(col("o_price") > 1000.0).orderBy("o_orderkey")
    assert(native.collect().toSeq == viaEvolved.collect().toSeq,
      "native colmap read must equal readEvolved under a filter")
  }

  test("a non-BIGINT sidecar key keeps the V1 bridge") {
    val root = Files.createTempDirectory("graft_w166_str").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 50)
      .selectExpr("concat('u', id) AS uid", "id AS v")
    ManifestTable.commit(root, ManifestTable.stage(df, root, "b"),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    ManifestTable.deleteMOR(root,
      spark.range(0, 5).selectExpr("concat('u', id) AS uid"))
    val b = new ManifestScanBuilder(spark.sqlContext, root,
      ManifestTable.latestVersion(root), df.schema)
    assert(b.build().isInstanceOf[ManifestV2Scan],
      "string-keyed vectors must fall back to the V1 bridge")
    // and the bridge still subtracts correctly
    val got = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load()
    assert(got.count() == 45, s"bridge read: ${got.count()}")
  }
}
