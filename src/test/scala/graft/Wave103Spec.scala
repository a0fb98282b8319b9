package graft

import java.nio.file.Files
import graft.operators.{ManifestOps, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-8 wave 103: deletion vectors (merge-on-read) — the
  * zero-rewrite write, the compaction equivalence, DV accumulation,
  * and vacuum's obligation to keep referenced vectors.
  */
class Wave103Spec extends SparkSpec {

  test("a DV delete rewrites NOTHING (file identity), costs only the " +
    "sidecar, and compaction materializes the same rows") {
    val orders = Tables.table(spark, sfDir, "orders")
    val root = ManifestOps.morRoot(spark, sfDir)
    val v1 = ManifestTable.filesFor(root, 1).toSet
    val v2 = ManifestTable.filesFor(root, 2).toSet
    assert(v1 == v2, "the MOR delete must not touch the live file list")
    val dvs = ManifestTable.dvsFor(root, 2)
    assert(dvs.size == 1 && ManifestTable.dvsFor(root, 1).isEmpty)
    // write amplification: the sidecar is a small fraction of the data
    val data = root.resolve("data")
    val dvBytes = Files.size(data.resolve(dvs.head))
    val dataBytes = v1.toSeq.map(f => Files.size(data.resolve(f))).sum
    assert(dvBytes * 5 < dataBytes,
      s"DV $dvBytes B vs data $dataBytes B — sidecar not small")
    // readMOR(v2) == plain read(v3) after compactMOR — and both equal
    // the source-table restatement
    def sig(df: org.apache.spark.sql.DataFrame) = df
      .agg(count(lit(1)), sum("o_orderkey"),
        sum(col("o_totalprice").cast(Canon.Dec))).head()
    val mor = ManifestTable.readMOR(spark, root, 2, orders.schema,
      "o_orderkey")
    val compacted = ManifestTable.read(spark, root, 3, orders.schema)
    val expect = orders.filter(col("o_orderkey") % 13 =!= 0)
    assert(sig(mor) == sig(expect) && sig(compacted) == sig(expect))
    // v3 carries no dv meta — the read tax is gone
    assert(ManifestTable.dvsFor(root, 3).isEmpty)
  }

  test("DVs accumulate across deletes, and vacuum keeps referenced " +
    "vectors while dropping pre-horizon ones") {
    val root = Files.createTempDirectory("graft_mf_mor2")
    import spark.implicits._
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.coalesce(1), root, "base", Seq("k")))
    val v2 = ManifestTable.deleteMOR(root,
      df.filter(col("k") < 10).select("k"))
    val v3 = ManifestTable.deleteMOR(root,
      df.filter(col("k") >= 90).select("k"))
    assert((v1, v2, v3) == (1, 2, 3))
    assert(ManifestTable.dvsFor(root, 3).size == 2, "DVs must accumulate")
    val left = ManifestTable.readMOR(spark, root, 3, df.schema, "k")
    assert(left.count() == 80 &&
      left.agg(min("k"), max("k")).head() ==
        org.apache.spark.sql.Row(10L, 89L))
    // compact, then vacuum to the compaction horizon: the DV sidecars
    // are no longer referenced and die; the materialized read is whole
    val v4 = ManifestTable.compactMOR(spark, root, 3, df.schema, "k", 1)
    val dead = ManifestTable.vacuum(root, keepFrom = v4, retainMillis = 0)
    assert(ManifestTable.dvsFor(root, 3).forall(dead.contains),
      "unreferenced DVs must be vacuumed")
    assert(ManifestTable.read(spark, root, v4, df.schema).count() == 80)
    // and vacuum BEFORE the compaction horizon keeps referenced DVs:
    val root2 = Files.createTempDirectory("graft_mf_mor3")
    ManifestTable.commit(root2, ManifestTable.stage(
      df.coalesce(1), root2, "base", Seq("k")))
    ManifestTable.deleteMOR(root2, df.filter(col("k") < 10).select("k"))
    val dead2 = ManifestTable.vacuum(root2, keepFrom = 2, retainMillis = 0)
    assert(!ManifestTable.dvsFor(root2, 2).exists(dead2.contains),
      "a referenced DV was vacuumed — deleted rows would resurrect")
    assert(ManifestTable.readMOR(spark, root2, 2, df.schema, "k")
      .count() == 90)
  }
}
