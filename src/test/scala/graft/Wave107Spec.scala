package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 107: the r8 ADVICE hazards in the manifest format —
  * deletion-vector propagation through every commit path, vacuum's
  * retention guard for in-flight writers, a stale repeated compaction,
  * and mergeCoW's write-skew (in-band newcomer) conflict.
  */
class Wave107Spec extends SparkSpec {

  private def tinyTable() = {
    val root = Files.createTempDirectory("graft_mf_w107")
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    assert(v1 == 1)
    (root, df)
  }

  test("every commit path carries the parent's DVs forward; only " +
    "compactMOR clears them") {
    val (root, df) = tinyTable()
    val v2 = ManifestTable.deleteMOR(root,
      df.filter(col("k") < 10).select("k"))
    assert(ManifestTable.dvsFor(root, v2).size == 1)
    // append on a DV-carrying table: the old code dropped the dv= meta
    // here and readMOR of the new head resurrected the deleted rows
    val v3 = ManifestTable.appendCommit(root, ManifestTable.stage(
      df.filter(col("k") >= 100).unionAll(
        spark.range(100, 110).select(col("id").as("k"),
          (col("id") * 3).as("v"))).coalesce(1), root, "late", Seq("k")))
    assert(ManifestTable.dvsFor(root, v3).size == 1,
      "append dropped the parent's deletion vectors")
    assert(ManifestTable.readMOR(spark, root, v3, df.schema, "k")
      .filter(col("k") < 10).count() == 0,
      "deleted rows resurrected after an append")
    // optimizeSmall and mergeCoW inherit too
    val v4 = ManifestTable.optimizeSmall(spark, root, v3, df.schema,
      "k", smallBytes = 1 << 20)
    assert(v4 > v3 && ManifestTable.dvsFor(root, v4).size == 1,
      "optimizeSmall dropped the parent's deletion vectors")
    val v5 = ManifestTable.mergeCoW(spark, root, v4, df.schema,
      "k", 50, 59)(b => b.withColumn("v",
        when(col("k").between(50, 59), col("v") + 1).otherwise(col("v"))))
    assert(ManifestTable.dvsFor(root, v5).size == 1,
      "mergeCoW dropped the parent's deletion vectors")
    // plain compact preserves (it reads the BASE rows, so the deleted
    // keys are still physically present and still need subtracting)
    val v6 = ManifestTable.compact(spark, root, v5, df.schema, 1)
    assert(ManifestTable.dvsFor(root, v6).size == 1,
      "compact dropped the parent's deletion vectors")
    assert(ManifestTable.readMOR(spark, root, v6, df.schema, "k")
      .filter(col("k") < 10).count() == 0)
    // compactMOR materializes the subtraction and CLEARS the list
    val v7 = ManifestTable.compactMOR(spark, root, v6, df.schema, "k", 1)
    assert(ManifestTable.dvsFor(root, v7).isEmpty,
      "compactMOR must clear the materialized vectors")
    assert(ManifestTable.read(spark, root, v7, df.schema)
      .filter(col("k") < 10).count() == 0)
  }

  test("vacuum's retention horizon protects unreferenced-but-fresh " +
    "files (an in-flight writer's staged batch)") {
    val (root, df) = tinyTable()
    // a writer mid-flight: staged, referenced by NO manifest yet
    val staged = ManifestTable.stage(df.limit(5).coalesce(1), root,
      "inflight")
    // default horizon: the fresh orphan survives
    val dead = ManifestTable.vacuum(root, keepFrom = 1)
    assert(dead.isEmpty, s"vacuum deleted in-flight files: $dead")
    assert(Files.exists(root.resolve("data").resolve(staged.head)))
    // the writer can still publish a valid snapshot
    val v2 = ManifestTable.appendCommit(root, staged)
    assert(ManifestTable.read(spark, root, v2, df.schema).count() == 105)
    // horizon 0 (maintenance window, no writers) does reap orphans
    val orphan = ManifestTable.stage(df.limit(3).coalesce(1), root, "orph")
    val dead0 = ManifestTable.vacuum(root, keepFrom = 1, retainMillis = 0)
    assert(dead0.toSet == orphan.toSet)
  }

  test("two compactions of the same version stage under private names " +
    "— the second must not clobber the first's committed files") {
    val (root, df) = tinyTable()
    val c1 = ManifestTable.compact(spark, root, 1, df.schema, 1)
    val sig1 = ManifestTable.read(spark, root, c1, df.schema)
      .agg(count(lit(1)), sum("k"), sum("v")).head()
    // the first already rewrote v1's files, so the second aborts (and
    // deletes only its own staged files)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.compact(spark, root, 1, df.schema, 1)
    }
    assert(ManifestTable.latestVersion(root) == c1)
    // the first compaction's snapshot still reads intact
    assert(ManifestTable.read(spark, root, c1, df.schema)
      .agg(count(lit(1)), sum("k"), sum("v")).head() == sig1)
  }

  test("a concurrent append INSIDE the merge band aborts the merge " +
    "(write skew), outside it composes") {
    val (root, df) = tinyTable()
    def bump(lo: Long, hi: Long)(b: org.apache.spark.sql.DataFrame) =
      b.withColumn("v", when(col("k").between(lo, hi), col("v") + 1)
        .otherwise(col("v")))
    // in-band newcomer: rows with k in [40,49] land AFTER the merge
    // read v1 — under the old file-level check this composed and the
    // new rows silently skipped the transform
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(40, 50).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1), root, "inband", Seq("k")))
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.mergeCoW(spark, root, 1, df.schema, "k", 40, 49)(
        bump(40, 49))
    }
    // disjoint newcomer composes: merge band [0,9] vs append [200,209]
    val (root2, df2) = tinyTable()
    ManifestTable.appendCommit(root2, ManifestTable.stage(
      spark.range(200, 210).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1), root2, "out", Seq("k")))
    val v3 = ManifestTable.mergeCoW(spark, root2, 1, df2.schema,
      "k", 0, 9)(bump(0, 9))
    val got = ManifestTable.read(spark, root2, v3, df2.schema)
    assert(got.count() == 110 &&
      got.filter(col("k") < 10).agg(sum("v")).head().getLong(0) ==
        (0L until 10L).map(_ * 3 + 1).sum)
  }
}
