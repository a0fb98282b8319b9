package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

/** Round-11 wave 160: bloom-filter file skipping — the equality prune
  * min/max stats cannot express on scattered high-cardinality
  * columns. Claims proven here:
  *
  *  - on a key-laid table whose custkey bands admit every file, the
  *    bloom index physically skips most files for a point predicate
  *  - ZERO false negatives across a key sweep (results == the plain
  *    equality filter for every probed key, present or absent)
  *  - blooms are safe under rewrites BY CONSTRUCTION: a compaction's
  *    new files carry no bitsets and are admitted unconditionally
  *  - the index build is idempotent (re-build with full coverage is a
  *    no-op version-wise) and the sidecar meta inherits through later
  *    commits
  */
class Wave160Spec extends SparkSpec {

  test("point reads skip through the bloom; zero false negatives " +
    "over a key sweep") {
    import graft.operators.ManifestOps
    val root = ManifestOps.bloomRoot(spark, sfDir)
    val orders = Tables.table(spark, sfDir, "orders")
    val live = ManifestTable.filesFor(root, 2)
    assert(live.size == 8)
    // stats alone admit everything for a MID-domain key (the
    // scattered-column case; domain edges can sit outside one or two
    // files' bands, which is exactly why the probe is the median)
    val ckAll = orders.select("o_custkey").distinct()
      .orderBy("o_custkey").collect().map(_.getLong(0))
    val mid = ckAll(ckAll.length / 2)
    val (statHit, _, _) = ManifestTable.prunedEntries(root, 2,
      Seq(("o_custkey", mid, mid)), Nil)
    assert(statHit.size == live.size,
      s"fixture must be min/max-unprunable on custkey: ${statHit.size}")
    // the bloom skips: average admitted files over probes well below 8
    val keys = orders.select("o_custkey").distinct().limit(20)
      .collect().map(_.getLong(0))
    val admitted = keys.map(k =>
      ManifestTable.bloomAdmitted(root, 2, "o_custkey", k).size)
    assert(admitted.sum.toDouble / admitted.length < live.size * 0.8,
      s"bloom must skip files on average: $admitted")
    // exactness: present keys AND absent keys
    val absent = orders.agg(max("o_custkey")).head().getLong(0) + 999999
    (keys.take(5) :+ absent).foreach { k =>
      val got = ManifestTable.readPruned(spark, root, 2,
        orders.schema, Seq(EqualTo("o_custkey", k))).count()
      val want = orders.filter(col("o_custkey") === k).count()
      assert(got == want, s"key $k: bloom=$got plain=$want")
    }
  }

  test("rewrites stay safe (new files admitted unconditionally); " +
    "build is idempotent; meta inherits") {
    val root = Files.createTempDirectory("graft_w160_rw").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 400)
      .selectExpr("id AS k", "(id * 2654435761) % 1000 AS u")
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    val v2 = ManifestTable.buildBloomIndex(spark, root, df.schema, "u")
    assert(v2 == v1 + 1)
    // idempotent: full coverage → no new version
    assert(ManifestTable.buildBloomIndex(spark, root, df.schema, "u") == v2)
    // an append inherits the bloom meta; the new file has no bitset
    // and is admitted for ANY probe (only-skip-provably-absent)
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(400, 450).selectExpr("id AS k", "id AS u"),
      root, "ap"))
    val v3 = ManifestTable.latestVersion(root)
    assert(ManifestTable.bloomsFor(root, v3).nonEmpty,
      "bloom meta must inherit through the append")
    // a probe PROVABLY present: row k=10's own u value
    val probe = (10L * 2654435761L) % 1000L
    val adm = ManifestTable.bloomAdmitted(root, v3, "u", probe)
    val newFiles = ManifestTable.filesFor(root, v3)
      .filterNot(ManifestTable.filesFor(root, v2).toSet)
    assert(newFiles.forall(adm.contains),
      s"bitset-less files must always be admitted: $newFiles vs $adm")
    // exactness survives a compaction (new names, no bitsets)
    val v4 = ManifestTable.compact(spark, root, v3, df.schema, 2)
    val got = ManifestTable.readPruned(spark, root, v4,
      df.schema, Seq(EqualTo("u", probe))).count()
    val want = ManifestTable.read(spark, root, v4, df.schema)
      .filter(col("u") === probe).count()
    assert(got == want && want > 0, s"post-compact: bloom=$got plain=$want")
    // a rebuild re-covers the rewritten files and the skip returns
    val v5 = ManifestTable.buildBloomIndex(spark, root, df.schema, "u")
    assert(v5 == v4 + 1)
  }
}
