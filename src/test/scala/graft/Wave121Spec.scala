package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 121: OPTIMIZE ZORDER — the multi-dimensional
  * clustering rewrite. The claims: (1) data survives the rewrite
  * bit-for-bit; (2) under the z-layout a predicate on the SECOND
  * column prunes files (under a single-column range layout it cannot —
  * every file spans that column's full range); (3) a 2-predicate prune
  * admits roughly the product of the band fractions, strictly fewer
  * files than the range layout admits for the same predicate.
  */
class Wave121Spec extends SparkSpec {

  /** 4096-point uniform grid: k = 0..4095, c = odd-multiplier scramble
    * of k mod 4096 (a bijection, so c is uniform and every k-slab
    * spans c's full range — the layout z-ordering exists to fix).
    */
  private def grid() = {
    val root = Files.createTempDirectory("graft_mf_zorder")
    val df = spark.range(4096).select(col("id").as("k"),
      (col("id") * 2654435761L % 4096).as("c"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(16, col("k")), root, "base", Seq("k", "c")))
    assert(v1 == 1)
    (root, df)
  }

  test("the z-order rewrite preserves the data exactly") {
    val (root, df) = grid()
    val v2 = ManifestTable.optimizeZorder(spark, root, 1, df.schema,
      Seq("k", "c"), 16)
    val got = ManifestTable.read(spark, root, v2, df.schema)
    assert(got.count() == 4096)
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty,
      "z-order rewrite changed the data")
  }

  test("second-column and 2-D prunes admit fewer files under the " +
    "z-layout than under the range layout") {
    val (root, df) = grid()
    val v2 = ManifestTable.optimizeZorder(spark, root, 1, df.schema,
      Seq("k", "c"), 16)
    def admitted(v: Int, preds: Seq[(String, Long, Long)]) =
      ManifestTable.readPruned(spark, root, v, df.schema, between(preds: _*))
        .inputFiles.length
    // c-band bottom quarter: the range layout cannot prune at all
    // (every k-slab file spans c's full range); the z-layout's 16
    // quadrant tiles put that band in ~4 of them
    val cOnly = Seq(("c", 0L, 1023L))
    assert(admitted(1, cOnly) == 16,
      "range layout unexpectedly pruned on the unclustered column")
    assert(admitted(v2, cOnly) <= 6,
      s"z-layout admitted ${admitted(v2, cOnly)} files for a " +
      "quarter-band on c — clustering is not biting")
    // quarter × quarter rectangle: range layout admits its 4 k-slabs;
    // the z-layout admits the ~1-2 tiles covering the rectangle
    val rect = Seq(("k", 0L, 1023L), ("c", 0L, 1023L))
    val zRect = admitted(v2, rect)
    assert(zRect < admitted(1, rect),
      s"2-D prune: z-layout ($zRect files) did not beat the range " +
      s"layout (${admitted(1, rect)} files)")
    assert(zRect <= 3, s"2-D prune admitted $zRect of 16 z-files")
    // the prunes re-filter rows exactly, layout notwithstanding
    assert(ManifestTable.readPruned(spark, root, v2, df.schema,
      between(rect: _*)).count() ==
      df.filter(col("k") <= 1023 && col("c") <= 1023).count())
  }

  test("degenerate second column (constant) does not break the " +
    "interleave, and a conflicting later rewrite aborts") {
    val root = Files.createTempDirectory("graft_mf_zconst")
    val df = spark.range(100).select(col("id").as("k"), lit(7L).as("c"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k", "c")))
    val v2 = ManifestTable.optimizeZorder(spark, root, 1, df.schema,
      Seq("k", "c"), 4)
    assert(ManifestTable.read(spark, root, v2, df.schema).count() == 100)
    // zorder over the PRE-rewrite version: its read set is gone
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.optimizeZorder(spark, root, 1, df.schema,
        Seq("k", "c"), 4)
    }
  }

  test("3-D interleave: each dimension's quarter-band prunes files " +
    "under the z3 layout, and the data survives exactly") {
    val root = Files.createTempDirectory("graft_mf_z3")
    // 16^3 grid: a = high bits, b = middle, c = scramble — under the
    // initial a-range layout, b and c span every file
    val df = spark.range(4096).select(
      (col("id") / 256).cast("long").as("a"),
      ((col("id") / 16) % 16).cast("long").as("b"),
      (col("id") * 2654435761L % 16).as("c"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(16, col("a")), root, "base",
      Seq("a", "b", "c")))
    val v2 = ManifestTable.optimizeZorder(spark, root, 1, df.schema,
      Seq("a", "b", "c"), 16)
    val got = ManifestTable.read(spark, root, v2, df.schema)
    assert(got.count() == 4096)
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty)
    def admitted(v: Int, preds: Seq[(String, Long, Long)]) =
      ManifestTable.readPruned(spark, root, v, df.schema, between(preds: _*))
        .inputFiles.length
    // the unclustered dims cannot prune the range layout at all
    assert(admitted(1, Seq(("b", 0L, 3L))) == 16)
    assert(admitted(1, Seq(("c", 0L, 3L))) == 16)
    // under z3, EVERY dimension's quarter-band skips files
    assert(admitted(v2, Seq(("a", 0L, 3L))) < 16)
    assert(admitted(v2, Seq(("b", 0L, 3L))) < 16)
    assert(admitted(v2, Seq(("c", 0L, 3L))) < 16)
    // and the 3-D octant conjunction admits a small corner
    val corner = admitted(v2,
      Seq(("a", 0L, 3L), ("b", 0L, 3L), ("c", 0L, 3L)))
    assert(corner <= 4, s"3-D corner admitted $corner of 16 files")
  }

  test("declared query: the z-ordered pruned read equals the " +
    "source-side restatement at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("source_manifest_zorder")(spark, dir)
    val orders = Tables.table(spark, dir, "orders")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val mxC = orders.agg(max("o_custkey")).head().getLong(0)
    val expect = orders.filter(
      col("o_orderkey") >= mx / 8 && col("o_orderkey") <= mx / 4 &&
      col("o_custkey") >= 0 && col("o_custkey") <= mxC / 4)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "source_manifest_zorder diverged from the source-side restatement")
  }
}
