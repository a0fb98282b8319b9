package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 123: TIMESTAMP AS OF — every commit records its wall
  * time, versionAt resolves the largest version at-or-before a clock
  * reading (ties to the latest, the Delta rule), readAsOf pins reads
  * by time.
  */
class Wave123Spec extends SparkSpec {

  test("versionAt resolves by wall clock: exact hit, between-commits, " +
    "after-latest, and before-first all behave") {
    val root = Files.createTempDirectory("graft_mf_tsof")
    val df = spark.range(10).select(col("id").as("k"), (col("id") * 2).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.coalesce(1), root, "b1"))
    Thread.sleep(5) // distinct-ms commits so the middle case is testable
    val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(10, 20).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1), root, "b2"))
    Thread.sleep(5)
    val v3 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(20, 30).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1), root, "b3"))
    val (t1, t2, t3) = (ManifestTable.commitTime(root, v1),
      ManifestTable.commitTime(root, v2), ManifestTable.commitTime(root, v3))
    assert(t1 <= t2 && t2 <= t3, "commit times are not monotone")
    assert(t1 < t2 && t2 < t3, "sleeps did not separate commit times")
    assert(ManifestTable.versionAt(root, t1) == v1)
    assert(ManifestTable.versionAt(root, t2 - 1) == v1,
      "between v1 and v2 must resolve to v1")
    assert(ManifestTable.versionAt(root, t2) == v2)
    assert(ManifestTable.versionAt(root, t3 + 3600000L) == v3,
      "after the last commit must resolve to latest")
    intercept[IllegalArgumentException] {
      ManifestTable.versionAt(root, t1 - 1) // table did not exist yet
    }
    // readAsOf pins the snapshot the clock saw
    assert(ManifestTable.readAsOf(spark, root, t2 - 1, df.schema)
      .count() == 10)
    assert(ManifestTable.readAsOf(spark, root, t2, df.schema).count() == 20)
    assert(ManifestTable.readAsOf(spark, root, t3, df.schema).count() == 30)
  }

  test("every commit path records ts= — including deltas, checkpoints " +
    "and MOR zero-op commits") {
    val root = Files.createTempDirectory("graft_mf_tsall")
    val df = spark.range(50).select(col("id").as("k"), (col("id") * 2).as("v"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(2, col("k")), root, "base", Seq("k")))
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(50, 60).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1), root, "d"))
    ManifestTable.deleteMOR(root,
      df.filter(col("k") < 5).select("k")) // zero-op delta commit
    (1 to ManifestTable.latestVersion(root)).foreach { v =>
      assert(ManifestTable.commitTime(root, v) > 0,
        s"v$v is missing its ts= header")
    }
  }
}
