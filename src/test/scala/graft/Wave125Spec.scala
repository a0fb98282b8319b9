package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 125: MERGE hardening + the audit surface — duplicate
  * source keys fail loudly (the Delta "multiple source rows matched"
  * rule instead of nondeterministic last-writer), and DESCRIBE
  * HISTORY derives the full operation timeline from the headers.
  */
class Wave125Spec extends SparkSpec {

  test("an upsert whose update set carries two images of one key " +
    "fails loudly instead of landing nondeterministically") {
    val root = Files.createTempDirectory("graft_mf_dupkey")
    val df = spark.range(50).select(col("id").as("k"), (col("id") * 2).as("v"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(2, col("k")), root, "base", Seq("k")))
    val dup = spark.createDataFrame(Seq((10L, 1L), (10L, 2L), (60L, 3L)))
      .toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.upsert(spark, root, 1, df.schema, "k", dup)
    }
    assert(e.getMessage.contains("duplicate"))
    // nothing committed, no data corrupted
    assert(ManifestTable.latestVersion(root) == 1)
    assert(ManifestTable.read(spark, root, 1, df.schema).count() == 50)
  }

  test("history derives one row per version with kind, operation and " +
    "monotone timestamps across a mixed lifecycle") {
    val root = Files.createTempDirectory("graft_mf_hist")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))        // v1
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(100, 110).select(col("id").as("k"), (col("id") * 2).as("v"))
        .coalesce(1), root, "a"))                                    // v2
    ManifestTable.upsert(spark, root, 2, df.schema, "k",
      spark.createDataFrame(Seq((10L, 999L))).toDF("k", "v"))        // v3
    ManifestTable.deleteMOR(root, df.filter(col("k") < 3).select("k")) // v4
    ManifestTable.optimizeZorder(spark, root, 4, df.schema,
      Seq("k", "v"), 4)                                              // v5
    val h = ManifestTable.history(spark, root)
      .orderBy("version").collect()
    assert(h.length == 5)
    assert(h.map(_.getLong(0)).toSeq == (1L to 5L))
    val ts = h.map(_.getLong(1))
    assert(ts.forall(_ > 0) && ts.zip(ts.tail).forall { case (a, b) => a <= b },
      "history timestamps missing or non-monotone")
    assert(h(0).getString(2) == "checkpoint") // commit() checkpoints
    assert(h(1).getString(2) == "delta")      // append rides the chain
    assert(h(2).getString(3).startsWith("upsert=v2"))
    assert(h(3).getString(3).startsWith("dv="))
    assert(h(4).getString(3).contains("zorder=v4"))
  }
}
