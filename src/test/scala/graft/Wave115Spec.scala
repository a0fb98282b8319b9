package graft

import java.nio.file.Files
import graft.operators.{ManifestOps, ManifestTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 wave 115: the row-level change data feed — the CDF
  * contract (readMOR(from) − deletes ⊎ inserts ≡ readMOR(to) as
  * multisets) across append / CoW-merge / MOR-delete / compaction
  * steps, the empty feed for pure rewrites, and the file-lineage
  * claim that the feed never reads a surviving file unless a new DV
  * changed its rows' visibility.
  */
class Wave115Spec extends SparkSpec {

  private def contract(root: java.nio.file.Path, from: Int, to: Int,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val changes = ManifestTable.readChanges(spark, root, from, to,
      schema, "k").cache()
    val ins = changes.filter(col("_change_type") === "insert")
      .drop("_change_type")
    val del = changes.filter(col("_change_type") === "delete")
      .drop("_change_type")
    val before = ManifestTable.readMOR(spark, root, from, schema, "k")
    val after = ManifestTable.readMOR(spark, root, to, schema, "k")
    val replayed = before.exceptAll(del).unionAll(ins)
    assert(replayed.exceptAll(after).isEmpty &&
      after.exceptAll(replayed).isEmpty,
      s"CDF v$from→v$to violates replay equivalence")
    changes.unpersist(): Unit
  }

  test("CDF replay equivalence holds across append, merge, MOR " +
    "delete and compaction; a pure rewrite feeds NOTHING") {
    val root = Files.createTempDirectory("graft_mf_cdf")
    val df = spark.range(300).select(col("id").as("k"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(300, 320).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1), root, "late", Seq("k")))
    val v3 = ManifestTable.mergeCoW(spark, root, v2, df.schema, "k", 0, 49)(
      b => b.filter(!(col("k").between(0, 49) && col("k") % 7 === 0))
        .withColumn("v", when(col("k").between(0, 49), col("v") + 1)
          .otherwise(col("v"))))
    val v4 = ManifestTable.deleteMOR(root,
      df.filter(col("k").between(100, 109)).select("k"))
    val v5 = ManifestTable.compact(spark, root, v4, df.schema, 2)
    // every adjacent step and the full span satisfy the contract
    Seq((v1, v2), (v2, v3), (v3, v4), (v4, v5), (v1, v5))
      .foreach { case (a, b) => contract(root, a, b, df.schema) }
    // a pure rewrite (compaction) is an EMPTY feed — rows only moved.
    // (v4→v5 crosses a DV-carry, so assert the pure case on a clean
    // compaction of v2)
    val root2 = Files.createTempDirectory("graft_mf_cdf2")
    ManifestTable.commit(root2, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root2, "base", Seq("k")))
    val c = ManifestTable.compact(spark, root2, 1, df.schema, 1)
    assert(ManifestTable.readChanges(spark, root2, 1, c, df.schema, "k")
      .isEmpty, "compaction must feed no changes")
  }

  test("the declared cow feed derives from changed files only, and " +
    "the MOR feed is pure deletes via the DV semi-join") {
    val orders = Tables.table(spark, sfDir, "orders")
    val root = ManifestOps.cowRoot(spark, sfDir)
    val v1Files = ManifestTable.filesFor(root, 1).toSet
    val v2Files = ManifestTable.filesFor(root, 2).toSet
    val surviving = v1Files.intersect(v2Files)
    val feed = SparkEntry.queries("cdf_manifest")(spark, sfDir)
    feed.inputFiles.map(_.split('/').last).foreach(f =>
      assert(!surviving.contains(f),
        s"cow feed read surviving file $f — not lineage-bounded"))
    // update rows appear as delete+insert pairs with the same key
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("delete") > byType("insert"),
      "band deletes (%19) must make deletes outnumber inserts")
    // MOR path: pure deletes, count = the %13 key rows
    val morFeed = SparkEntry.queries("cdf_manifest_mor")(spark, sfDir)
    val types = morFeed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet
    assert(types == Set("delete"))
    assert(morFeed.count() ==
      orders.filter(col("o_orderkey") % 13 === 0).count())
  }
}
