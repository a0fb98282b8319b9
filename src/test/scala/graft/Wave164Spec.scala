package graft

import graft.operators.{ManifestOps, ManifestTable}
import graft.sources.{ManifestRelation, ManifestRuntimeScan, ManifestScanBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Round-12 wave 164 — r11-VERDICT task 1: bloom skipping wired into
  * the actual read paths (round 11 built the index; only the
  * dedicated bloom reader consulted it). Claims proven here:
  *
  *  - the V1 relation's admission drops files the bitsets prove
  *    absent for a pushed equality — BELOW the band admit (which on
  *    the scattered-custkey fixture admits everything)
  *  - the native V2 runtime scan does the same for static equalities
  *    AND runtime (DPP-shaped) IN sets
  *  - bitset-less files stay admitted (rewrites are safe), oversized
  *    IN lists skip the refinement (plan-cost bound), and results
  *    stay exact either way
  */
class Wave164Spec extends SparkSpec {

  private def mid(root: java.nio.file.Path): Long = {
    val orders = Tables.table(spark, sfDir, "orders")
    val cks = orders.select("o_custkey").distinct()
      .orderBy("o_custkey").collect().map(_.getLong(0))
    cks(cks.length / 2)
  }

  test("V1 relation admission composes band AND bloom for a pushed " +
    "equality; exactness holds") {
    val root = ManifestOps.bloomRoot(spark, sfDir)
    val orders = Tables.table(spark, sfDir, "orders")
    val ck = mid(root)
    val r = new ManifestRelation(spark.sqlContext, root, 2, orders.schema)
    val band = r.admittedEntries(Array.empty)
    assert(band.size == 8, s"fixture live set: ${band.size}")
    // the custkey band admits everything (scattered column) — the
    // shrink below is entirely the bloom's
    val (statHit, _, _) = ManifestTable.prunedEntries(root, 2,
      Seq(("o_custkey", ck, ck)), Nil)
    assert(statHit.size == 8, s"band must admit all: ${statHit.size}")
    val admitted = r.admittedEntries(Array(EqualTo("o_custkey", ck)))
    assert(admitted.size < 8,
      s"bloom must shrink the admitted set: ${admitted.size}")
    assert(admitted.map(_.path).toSet ==
      ManifestTable.bloomAdmitted(root, 2, "o_custkey", ck).toSet,
      "planner admission must equal the dedicated reader's")
    // exactness through the registered source
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("o_custkey") === ck)
    val want = orders.filter(col("o_custkey") === ck)
    assert(got.count() == want.count() && want.count() > 0)
  }

  test("native V2 runtime scan refines by bloom for equalities and " +
    "runtime IN sets; oversized sets skip the refinement") {
    val root = ManifestOps.bloomRoot(spark, sfDir)
    val orders = Tables.table(spark, sfDir, "orders")
    val ck = mid(root)
    def scanWith(pushed: Array[org.apache.spark.sql.sources.Filter],
        runtime: Array[org.apache.spark.sql.sources.Filter])
        : ManifestRuntimeScan = {
      val b = new ManifestScanBuilder(spark.sqlContext, root, 2,
        orders.schema)
      b.pushFilters(pushed)
      val s = b.build().asInstanceOf[ManifestRuntimeScan]
      if (runtime.nonEmpty) s.filter(runtime)
      s
    }
    val all = scanWith(Array.empty, Array.empty).admittedEntries.size
    assert(all == 8)
    // static equality
    val eq = scanWith(Array(EqualTo("o_custkey", ck)), Array.empty)
      .admittedEntries.size
    assert(eq < all, s"static equality must bloom-prune: $eq of $all")
    // runtime IN (the DPP shape): two present keys — a file survives
    // when it may hold ANY of them
    val cks = orders.select("o_custkey").distinct()
      .orderBy("o_custkey").collect().map(_.getLong(0))
    val inSet: Array[Any] =
      Array(java.lang.Long.valueOf(cks(1)), java.lang.Long.valueOf(ck))
    val rt = scanWith(Array.empty, Array(In("o_custkey", inSet)))
      .admittedEntries
    assert(rt.size < all, s"runtime IN must bloom-prune: ${rt.size}")
    val unionAdmit = (ManifestTable.bloomAdmitted(root, 2, "o_custkey",
      cks(1)).toSet ++ ManifestTable.bloomAdmitted(root, 2, "o_custkey",
      ck).toSet)
    assert(rt.map(_.path).toSet == unionAdmit,
      "IN admission = union of the per-value admissions (band admits all)")
    // an absent key prunes everything the fpp misses; exactness holds
    val absent = cks.last + 987654321L
    val gotAbsent = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("o_custkey") === absent).count()
    assert(gotAbsent == 0)
    // oversized IN list: refinement skipped, band admit stands — the
    // values must sit INSIDE the key domain, else the ordinary
    // min..max coarse band already prunes everything
    val big: Array[Any] = (0 until 5000)
      .map(i => java.lang.Long.valueOf(cks.head + i): Any).toArray
    val capped = scanWith(Array.empty, Array(In("o_custkey", big)))
      .admittedEntries.size
    assert(capped == all,
      s"a 5000-value IN must skip bloom refinement (cap), got $capped")
  }

  test("bitset-less files stay admitted through the planner paths") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_w164_safe").resolve("t")
    java.nio.file.Files.createDirectories(root)
    val df = spark.range(0, 400)
      .selectExpr("id AS k", "(id * 2654435761) % 1000 AS u")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    ManifestTable.buildBloomIndex(spark, root, df.schema, "u")
    // append WITHOUT rebuilding the index: the new file has no bitset
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(400, 410).selectExpr("id AS k", "id + 5000 AS u"),
      root, "ap"))
    val v = ManifestTable.latestVersion(root)
    val r = new ManifestRelation(spark.sqlContext, root, v, df.schema)
    // 5405 (= 405 + 5000) lives ONLY in the uncovered file — it must
    // be admitted and the row found (the one way a bloom could lose
    // rows)
    val adm = r.admittedEntries(Array(EqualTo("u", 5405L)))
    val newFiles = ManifestTable.filesFor(root, v).toSet --
      ManifestTable.filesFor(root, 2).toSet
    assert(newFiles.subsetOf(adm.map(_.path).toSet),
      s"bitset-less files must be admitted: $newFiles vs ${adm.map(_.path)}")
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("u") === 5405L).count()
    assert(got == 1)
  }
}
