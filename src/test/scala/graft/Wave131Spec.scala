package graft

import java.nio.file.Files
import graft.operators.{ManifestOps, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-9 wave 131: plan-audit + hygiene closure over the closing
  * waves — physical-plan assertions for the new declared queries
  * (the Wave106 convention), vacuum across the new rewrite lifecycles,
  * and the source API's failure modes.
  */
class Wave131Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("plan audit: knn_manifest_incremental broadcasts, and the " +
    "manifest-backed declared queries never scan the raw fixtures") {
    val knn = SparkEntry.queries("knn_manifest_incremental")(spark, dir)
    val plan = knn.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the exact search must broadcast the query side")
    // upsert + zorder queries read only manifest data files. (The
    // v1api query reads through a V1 BaseRelation, which exposes no
    // FileIndex to inputFiles — its file accounting is Wave126Spec's
    // admittedEntries assertion instead.)
    Seq("manifest_upsert", "source_manifest_zorder").foreach { k =>
      val inputs = SparkEntry.queries(k)(spark, dir).inputFiles
      assert(inputs.nonEmpty && !inputs.exists(_.contains("orders.parquet")),
        s"$k rescans the raw fixture")
    }
  }

  test("plan audit: source_manifest_zorder's physical scan reads a " +
    "strict subset of the z-laid files") {
    val root = ManifestOps.zorderRoot(spark, dir)
    val v = ManifestTable.latestVersion(root)
    val all = ManifestTable.filesFor(root, v).size
    val scanned = SparkEntry.queries("source_manifest_zorder")(spark, dir)
      .inputFiles.length
    assert(scanned < all,
      s"2-D prune scanned $scanned of $all z-files — no skip")
  }

  test("vacuum across the new rewrite lifecycles: replaced files go, " +
    "the live set survives, pinned-old reads break only as documented") {
    val root = Files.createTempDirectory("graft_mf_vac130")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    val v2 = ManifestTable.upsert(spark, root, 1, df.schema, "k",
      spark.createDataFrame(Seq((10L, 999L))).toDF("k", "v"))
    val v3 = ManifestTable.optimizeZorder(spark, root, v2, df.schema,
      Seq("k", "v"), 4)
    val before = {
      val s = Files.list(root.resolve("data"))
      try s.count() finally s.close()
    }
    ManifestTable.vacuum(root, keepFrom = v3, retainMillis = 0)
    val after = {
      val s = Files.list(root.resolve("data"))
      try s.count() finally s.close()
    }
    assert(after < before, "vacuum removed nothing across the rewrites")
    val live = ManifestTable.read(spark, root, v3, df.schema)
    assert(live.count() == 100 &&
      live.filter(col("k") === 10L).head().getLong(1) == 999L,
      "vacuum touched the live snapshot")
  }

  test("the source API fails loudly on a missing path, a non-table " +
    "dir, and an out-of-range version") {
    intercept[IllegalArgumentException] {
      spark.read.format("graft-manifest").load()
    }
    val empty = Files.createTempDirectory("graft_src_notatable")
    intercept[IllegalArgumentException] {
      spark.read.format("graft-manifest")
        .option("path", empty.toString).load()
    }
    val root = Files.createTempDirectory("graft_src_badv")
    ManifestTable.commit(root, ManifestTable.stage(
      spark.range(10).select(col("id").as("k")).coalesce(1), root, "b"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft-manifest")
        .option("path", root.toString).option("version", "9").load()
    }
  }
}
