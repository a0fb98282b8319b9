package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-8 wave 95: writer isolation for the manifest format — merge
  * conflict detection (a concurrent rewrite of the read set aborts),
  * composition with concurrent appends and disjoint merges, and the
  * small-file OPTIMIZE that leaves big files untouched.
  */
class Wave95Spec extends SparkSpec {

  private def build() = {
    val root = Files.createTempDirectory("graft_mf_iso2")
    val orders = Tables.table(spark, sfDir, "orders")
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      orders.repartitionByRange(8, col("o_orderkey")),
      root, "base", Seq("o_orderkey")))
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    (root, orders, v1, mx)
  }

  test("a merge whose read set was rewritten by a concurrent commit " +
    "ABORTS; a disjoint-band merge from the same stale snapshot lands") {
    val (root, orders, v1, mx) = build()
    // band-scoped transform (the mergeCoW contract: identity outside
    // the band — skipping disjoint files is only lossless then)
    def bump(lo: Long, hi: Long)(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("o_totalprice",
        when(col("o_orderkey").between(lo, hi),
          col("o_totalprice") + lit(1.0d)).otherwise(col("o_totalprice")))
    // writer A merges the middle band and wins v2
    val v2 = ManifestTable.mergeCoW(spark, root, v1, orders.schema,
      "o_orderkey", mx * 3 / 8, mx * 5 / 8)(bump(mx * 3 / 8, mx * 5 / 8))
    assert(v2 == 2)
    // writer B read v1 and overlaps A's band → its read set is gone
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.mergeCoW(spark, root, v1, orders.schema,
        "o_orderkey", mx / 2, mx * 3 / 4)(bump(mx / 2, mx * 3 / 4))
    }
    // writer C read v1 too, but its band's files survived A → lands,
    // and A's rewrites survive into C's snapshot
    val v3 = ManifestTable.mergeCoW(spark, root, v1, orders.schema,
      "o_orderkey", 0, mx / 8)(bump(0, mx / 8))
    assert(v3 == 3)
    val tot = ManifestTable.read(spark, root, v3, orders.schema)
      .agg(sum(col("o_totalprice").cast(Canon.Dec))).head().getDecimal(0)
    val expect = orders.withColumn("o_totalprice",
        when(col("o_orderkey").between(mx * 3 / 8, mx * 5 / 8)
          || col("o_orderkey").between(0, mx / 8),
          col("o_totalprice") + lit(1.0d))
          .otherwise(col("o_totalprice")))
      .agg(sum(col("o_totalprice").cast(Canon.Dec))).head().getDecimal(0)
    assert(tot == expect, "both landed merges must compose")
  }

  test("a concurrent APPEND composes with a stale-snapshot merge: the " +
    "appended file survives the merge commit") {
    val (root, orders, v1, mx) = build()
    // append lands v2 while the merge still reads v1
    val extra = orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + lit(mx + 1000))
    val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
      extra.coalesce(1), root, "late", Seq("o_orderkey")))
    assert(v2 == 2)
    val v3 = ManifestTable.mergeCoW(spark, root, v1, orders.schema,
      "o_orderkey", 0, mx / 8)(df =>
      df.withColumn("o_totalprice", col("o_totalprice") + lit(1.0d)))
    assert(v3 == 3)
    val n = ManifestTable.read(spark, root, v3, orders.schema).count()
    assert(n == orders.count() + 5,
      "the concurrent append's rows must survive the merge commit")
  }

  test("optimizeSmall packs only the sub-threshold files; big files " +
    "and pinned readers are untouched") {
    val root = Files.createTempDirectory("graft_mf_opt")
    val orders = Tables.table(spark, sfDir, "orders")
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      orders.repartitionByRange(2, col("o_orderkey")),
      root, "big", Seq("o_orderkey")))
    // four tiny appends — the small-file tail a streaming sink leaves
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val v = (1 to 4).foldLeft(v1) { (_, i) =>
      ManifestTable.appendCommit(root, ManifestTable.stage(
        orders.limit(3).withColumn("o_orderkey",
          col("o_orderkey") + lit(mx + 100L * i)).coalesce(1),
        root, s"tiny$i", Seq("o_orderkey")))
    }
    val before = ManifestTable.entriesFor(root, v)
    val data = root.resolve("data")
    val big = before.filter(e => Files.size(data.resolve(e.path)) >= 4096)
    val vOpt = ManifestTable.optimizeSmall(spark, root, v, orders.schema,
      "o_orderkey", smallBytes = 4096)
    assert(vOpt == v + 1)
    val after = ManifestTable.entriesFor(root, vOpt)
    big.foreach(e => assert(after.exists(_.path == e.path),
      s"big file ${e.path} was rewritten — OPTIMIZE must skip it"))
    assert(after.size < before.size, "packing must shrink the file count")
    // value equality through the pack + pinned pre-optimize read intact
    def tot(version: Int) =
      ManifestTable.read(spark, root, version, orders.schema)
        .agg(count(lit(1)), sum(col("o_orderkey"))).head()
    assert(tot(vOpt) == tot(v))
    // nothing to pack → version unchanged
    assert(ManifestTable.optimizeSmall(spark, root, vOpt, orders.schema,
      "o_orderkey", smallBytes = 10) == vOpt)
  }
}
