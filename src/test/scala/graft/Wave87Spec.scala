package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-8 wave 87: the manifest format's stats-pruned COPY-ON-WRITE
  * merge and vacuum — the file-level claims the source_manifest_merge
  * oracle (which only sees values) cannot check.
  */
class Wave87Spec extends SparkSpec {

  private def build() = {
    val root = Files.createTempDirectory("graft_mf_cow")
    val orders = Tables.table(spark, sfDir, "orders")
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      orders.repartitionByRange(6, col("o_orderkey")),
      root, "base", Seq("o_orderkey")))
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    (root, orders, v1, mx / 4, mx / 2)
  }

  test("merge rewrites ONLY the files whose key stats intersect the " +
    "band; disjoint files survive as the same bytes") {
    val (root, orders, v1, lo, hi) = build()
    val before = ManifestTable.entriesFor(root, v1)
    val (hit, skip) = before.partition(e =>
      e.mayContain("o_orderkey", lo, hi - 1))
    assert(hit.nonEmpty && skip.nonEmpty,
      s"band [$lo,$hi) must split the ${before.size} files to make " +
        "this test meaningful")
    val v2 = ManifestTable.mergeCoW(spark, root, v1, orders.schema,
      "o_orderkey", lo, hi - 1) { df =>
      val inBand = col("o_orderkey") >= lo && col("o_orderkey") < hi
      df.withColumn("o_totalprice",
        when(inBand, col("o_totalprice") + lit(1.0d))
          .otherwise(col("o_totalprice")))
    }
    val after = ManifestTable.filesFor(root, v2).toSet
    skip.foreach(e => assert(after.contains(e.path),
      s"untouched file ${e.path} was rewritten — not copy-on-write"))
    hit.foreach(e => assert(!after.contains(e.path),
      s"affected file ${e.path} still live — merge missed it"))
    // pruning honesty: every skipped file really holds no band key
    skip.foreach { e =>
      val n = spark.read.schema(orders.schema)
        .parquet(root.resolve("data").resolve(e.path).toString)
        .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        .count()
      assert(n == 0, s"skipped file ${e.path} held $n band rows")
    }
    // value-level equality with the batch-computed merge. Sum on
    // DECIMAL: a double sum's last ulp depends on partition add order,
    // which legitimately differs between the two plans.
    def tot(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)),
        sum(col("o_totalprice").cast("decimal(38,6)"))).head()
    val expect = tot(orders.withColumn("o_totalprice",
      when(col("o_orderkey") >= lo && col("o_orderkey") < hi,
        col("o_totalprice") + lit(1.0d)).otherwise(col("o_totalprice"))))
    val got = tot(ManifestTable.read(spark, root, v2, orders.schema))
    assert(expect == got)
  }

  test("vacuum deletes exactly the files no kept snapshot references, " +
    "and only pre-horizon time travel dies") {
    val (root, orders, v1, lo, hi) = build()
    val v2 = ManifestTable.mergeCoW(spark, root, v1, orders.schema,
      "o_orderkey", lo, hi - 1)(df => df)
    val onlyV1 = ManifestTable.filesFor(root, v1).toSet
      .diff(ManifestTable.filesFor(root, v2).toSet)
    val dead = ManifestTable.vacuum(root, keepFrom = v2, retainMillis = 0)
    assert(dead.toSet == onlyV1,
      s"vacuum removed ${dead.toSet} but only $onlyV1 was unreferenced")
    // kept snapshot fully readable
    assert(ManifestTable.read(spark, root, v2, orders.schema).count()
      == orders.count())
    // pre-horizon snapshot must now FAIL (missing files surface as an
    // error at path resolution or scan), never silently shrink
    val failed =
      try {
        ManifestTable.read(spark, root, v1, orders.schema).count()
        false
      } catch { case _: Exception => true }
    assert(failed,
      "vacuumed snapshot still read cleanly — retention did not bite")
  }
}
