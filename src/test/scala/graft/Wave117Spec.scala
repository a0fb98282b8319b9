package graft

import java.nio.file.Files
import graft.operators.{ManifestOps, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-9 wave 117: positional (file-scoped) deletion vectors — the
  * re-insert semantics that distinguish them from key-predicate DVs,
  * the zero-rewrite write, the fail-loud rewrite guards, vacuum's
  * obligation to keep scoped sidecars, and compactMORScoped's
  * materialize-and-clear.
  */
class Wave117Spec extends SparkSpec {

  private def tiny() = {
    val root = Files.createTempDirectory("graft_mf_dvp")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    assert(v1 == 1)
    (root, df)
  }

  test("a re-inserted key survives the scoped read while the original " +
    "stays dead; a key-based DV on the same history kills both") {
    val (root, df) = tiny()
    val v2 = ManifestTable.deleteMORScoped(spark, root,
      df.filter(col("k") < 10).select("k"), "k", df.schema)
    // zero rewrites: the live file list is untouched
    assert(ManifestTable.filesFor(root, v2) == ManifestTable.filesFor(root, 1))
    assert(ManifestTable.scopedDvsFor(root, v2).size == 1)
    // re-insert keys 0..4 (fresh rows, marker value) in a new file
    val v3 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(5).select(col("id").as("k"), lit(999L).as("v"))
        .coalesce(1), root, "reins"))
    assert(ManifestTable.scopedDvsFor(root, v3).size == 1,
      "append dropped the scoped vector")
    val got = ManifestTable.readMORScoped(spark, root, v3, df.schema, "k")
    // originals (v = 3k) for k<10 dead; re-inserted (v=999) alive
    assert(got.filter(col("k") < 10 && col("v") =!= 999L).count() == 0,
      "scoped-deleted originals resurrected")
    assert(got.filter(col("v") === 999L).count() == 5,
      "re-inserted rows wrongly subtracted — that is key-predicate " +
      "semantics, not positional")
    assert(got.count() == 95)
    // CONTRAST: the key-based form on the same history kills both
    val (root2, df2) = tiny()
    ManifestTable.deleteMOR(root2, df2.filter(col("k") < 10).select("k"))
    val r3 = ManifestTable.appendCommit(root2, ManifestTable.stage(
      spark.range(5).select(col("id").as("k"), lit(999L).as("v"))
        .coalesce(1), root2, "reins"))
    val keyed = ManifestTable.readMOR(spark, root2, r3, df2.schema, "k")
    assert(keyed.filter(col("v") === 999L).count() == 0,
      "key-based DV unexpectedly kept re-inserted rows")
  }

  test("rewrite paths fail loudly while scoped vectors are " +
    "outstanding; compactMORScoped materializes, clears, and unblocks") {
    val (root, df) = tiny()
    ManifestTable.deleteMORScoped(spark, root,
      df.filter(col("k") % 10 === 0).select("k"), "k", df.schema)
    intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, root, 2, df.schema, 1)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.optimizeSmall(spark, root, 2, df.schema, "k", 1 << 20)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.mergeCoW(spark, root, 2, df.schema, "k", 0, 9)(b => b)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, root, 1, 2, df.schema, "k")
    }
    val v3 = ManifestTable.compactMORScoped(spark, root, 2, df.schema, "k", 2)
    assert(ManifestTable.scopedDvsFor(root, v3).isEmpty)
    assert(ManifestTable.read(spark, root, v3, df.schema).count() == 90)
    // unblocked: a plain compact now works
    val v4 = ManifestTable.compact(spark, root, v3, df.schema, 1)
    assert(ManifestTable.read(spark, root, v4, df.schema).count() == 90)
  }

  test("provenance scan is stats-pruned to the deleted keys' band, " +
    "and vacuum keeps referenced scoped sidecars") {
    val (root, df) = tiny()
    // delete a narrow band: the sidecar must name only files whose
    // stats admit it (range layout → 1 of 4 files)
    ManifestTable.deleteMORScoped(spark, root,
      df.filter(col("k").between(0, 5)).select("k"), "k", df.schema)
    val sidecar = ManifestTable.scopedDvsFor(root, 2)
    val srcs = spark.read.parquet(
        root.resolve("data").resolve(sidecar.head).toString)
      .select("src").distinct().collect().map(_.getString(0)).toSet
    assert(srcs.size == 1,
      s"narrow-band delete scoped to ${srcs.size} files — provenance " +
      "not stats-pruned")
    // vacuum keeps the referenced sidecar
    val dead = ManifestTable.vacuum(root, keepFrom = 2, retainMillis = 0)
    assert(!dead.contains(sidecar.head),
      "a referenced scoped vector was vacuumed — deletes would undo")
    assert(ManifestTable.readMORScoped(spark, root, 2, df.schema, "k")
      .count() == 94)
  }

  test("manifest_replicate: updates survive as exactly one new image, " +
    "band deletes vanish, untouched rows replicate verbatim") {
    val orders = Tables.table(spark, sfDir, "orders")
    val got = q("manifest_replicate").cache()
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    // every surviving key appears exactly once (the update's delete
    // half scoped to old files; its insert half in the new file)
    assert(got.groupBy("o_orderkey").count()
      .filter(col("count") > 1).count() == 0,
      "a replicated key appears twice — the scoped apply leaked")
    // in-band survivors carry the NEW image (+1.0), out-of-band the old
    val inBand = got.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
    val srcBand = orders.filter(col("o_orderkey") >= lo
      && col("o_orderkey") < hi && col("o_orderkey") % 19 =!= 0)
    assert(inBand.count() == srcBand.count())
    assert(got.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi
      && col("o_orderkey") % 19 === 0).count() == 0, "band deletes leaked")
    got.unpersist(): Unit
  }

  test("the declared scoped lifecycle matches its oracle shape and " +
    "rewrote nothing at delete time") {
    val orders = Tables.table(spark, sfDir, "orders")
    val root = ManifestOps.morScopedRoot(spark, sfDir)
    assert(ManifestTable.filesFor(root, 2) == ManifestTable.filesFor(root, 1))
    val got = q("source_manifest_mor_scoped")
    val expect = orders.filter(col("o_orderkey") % 13 =!= 0).count() +
      orders.filter(col("o_orderkey") % 13 === 0
        && col("o_orderkey") % 3 === 0).count()
    assert(got.count() == expect)
  }
}
