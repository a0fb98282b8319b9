package graft

import java.nio.file.{Files, Path}

import graft.operators.ManifestTable
import graft.operators.ManifestTable.{BucketTransform, DaysTransform}
import org.apache.spark.sql.functions._

/** File layout of [[ManifestTable.stage]]: one file per non-empty input
  * partition, none for an empty one (partition 0 included), under names
  * no other call reuses; hidden
  * partitioning never rolls on the unsorted range-laid frame; the
  * layout-aware OPTIMIZE still rolls to value-exact files; and a
  * merge-on-read delete of zero keys commits no sidecar.
  */
class StageLayoutSpec extends SparkSpec {

  private def dataFileCount(root: Path): Long = {
    val s = Files.list(root.resolve("data"))
    try s.count() finally s.close()
  }

  test("an N-partition frame with k empty partitions stages N-k files") {
    val root = Files.createTempDirectory("graft_layout_empty")
    val four = spark.range(0, 100, 1, 4).toDF("k")
    // partition 0 empty
    val a = ManifestTable.stage(four.filter("k >= 25"), root, "a")
    assert(a.size == 3, s"partition 0 empty: $a")
    // partitions 1 and 2 empty, with stats
    val b = ManifestTable.stage(four.filter("k < 25 OR k >= 75"), root,
      "b", Seq("k"))
    assert(b.size == 2, s"partitions 1-2 empty: $b")
    assert(b.map(ManifestTable.parseEntry(_).band("k")) ==
      Seq(Some((0L, 24L)), Some((75L, 99L))))
    // every partition empty: nothing staged
    assert(ManifestTable.stage(four.filter("k < 0"), root, "c").isEmpty)
    assert(dataFileCount(root) == 5L, "no other file (checksums included)")
    val v = ManifestTable.commit(root, a ++ b)
    assert(ManifestTable.read(spark, root, v, four.schema).count() == 125L)
  }

  test("two stage calls with one batch name write distinct files") {
    val root = Files.createTempDirectory("graft_layout_names")
    val df = spark.range(0, 10, 1, 2).toDF("k")
    val a = ManifestTable.stage(df, root, "same")
    val b = ManifestTable.stage(df, root, "same")
    assert(a.size == 2 && b.size == 2)
    assert(a.toSet.intersect(b.toSet).isEmpty,
      s"the second call reused the first call's names: $a $b")
    assert(dataFileCount(root) == 4L)
  }

  test("stageHidden with days() stages at most `files` files") {
    val root = Files.createTempDirectory("graft_layout_days")
    val orders = Tables.table(spark, sfDir, "orders").withColumn("o_ts",
      expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))
    val days = orders.select("o_ts").distinct().count()
    assert(days > 100, s"fixture should span many days, got $days")
    val staged = ManifestTable.stageHidden(orders, root, "h",
      Seq(DaysTransform("o_ts")), files = 16)
    assert(staged.nonEmpty && staged.size <= 16,
      s"$days days must not split into more than 16 files: ${staged.size}")
    val v = ManifestTable.commit(root, staged)
    assert(ManifestTable.read(spark, root, v, orders.schema).count() ==
      orders.count())
  }

  test("optimizeSmall on a transform table stages value-exact files") {
    val root = Files.createTempDirectory("graft_layout_opt")
    val ts = Seq(BucketTransform(4, "k"))
    def batch(i: Int) = spark.range(i * 100, (i + 1) * 100)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    ManifestTable.commit(root, ManifestTable.stageHidden(batch(0), root,
      "h0", ts, files = 2, statsCols = Seq("k")),
      ManifestTable.transformsMeta(ts))
    (1 until 3).foreach(i => ManifestTable.appendCommit(root,
      ManifestTable.stageHidden(batch(i), root, s"h$i", ts, files = 2,
        statsCols = Seq("k"))))
    val from = ManifestTable.latestVersion(root)
    val before = ManifestTable.entriesFor(root, from)
    assert(before.size >= 6 &&
      before.exists(_.band("__ptb4_k").exists(b => b._1 != b._2)),
      s"fixture should straddle buckets: ${before.map(_.line)}")
    val v = ManifestTable.optimizeSmall(spark, root, from,
      batch(0).schema, "k", Long.MaxValue)
    val after = ManifestTable.entriesFor(root, v)
    assert(after.nonEmpty && after.size <= 4 * 2)
    assert(after.forall(_.band("__ptb4_k").exists(b => b._1 == b._2)),
      s"every packed file must be bucket-exact: ${after.map(_.line)}")
    val rows = ManifestTable.read(spark, root, v, batch(0).schema)
    assert(rows.count() == 300L &&
      rows.agg(sum("v")).head().getLong(0) == 3L * (0 until 300).sum)
  }

  test("deleteMOR with zero keys commits with no sidecar file") {
    val root = Files.createTempDirectory("graft_layout_mor")
    val df = spark.range(0, 50).select(col("id").as("k"))
    val v1 = ManifestTable.commit(root,
      ManifestTable.stage(df.coalesce(1), root, "base", Seq("k")))
    val files = dataFileCount(root)
    val v2 = ManifestTable.deleteMOR(root, df.filter("k < 0"))
    assert(v2 == v1 + 1)
    assert(ManifestTable.dvsFor(root, v2).isEmpty)
    assert(dataFileCount(root) == files, "a zero-key delete staged a file")
    assert(ManifestTable.readMOR(spark, root, v2, df.schema, "k").count()
      == 50L)
  }
}
