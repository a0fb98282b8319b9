package graft

import java.nio.file.{Files, Path}

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-11 wave 158: multi-table transactions (r10-VERDICT task 6) —
  * one atomic append commit across ≥2 manifest tables via intent log
  * + roll-forward. Claims proven here:
  *
  *  - happy path: both tables land their adds, the committed marker
  *    exists, versions are the expected ones
  *  - CRASH INJECTION between the two publishes: before any reader
  *    touches table A, table B shows the OLD state; the first read of
  *    A completes the transaction (B gets its rows, the marker
  *    links) — all-or-nothing visibility by roll-forward
  *  - recovery is idempotent (re-reads change nothing) and composes
  *    with a concurrent append to B in the crash window
  *  - a pending txn whose intent log is missing fails loudly
  */
class Wave158Spec extends SparkSpec {

  private def mkTable(tag: String, rows: Long): Path = {
    val root = Files.createTempDirectory(s"graft_w158_$tag").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, rows).selectExpr("id AS k", "id AS v")
    if (rows > 0)
      ManifestTable.commit(root, ManifestTable.stage(
        df.repartitionByRange(2, col("k")), root, "base", Seq("k")))
    else ManifestTable.commit(root, Nil)
    root
  }

  private def stageAdds(root: Path, lo: Long, hi: Long, tag: String) =
    ManifestTable.stage(
      spark.range(lo, hi).selectExpr("id AS k", "id AS v"),
      root, tag, Seq("k"))

  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT")

  test("happy path: one commitTxn lands on both tables atomically") {
    val (a, b) = (mkTable("ha", 10), mkTable("hb", 0))
    val vs = ManifestTable.commitTxn(Seq(
      (a, stageAdds(a, 10, 20, "txa"), ""),
      (b, stageAdds(b, 0, 5, "txb"), "")))
    assert(vs == Seq(2, 2), s"versions $vs")
    assert(ManifestTable.read(spark, a, 2, schema).count() == 20)
    assert(ManifestTable.read(spark, b, 2, schema).count() == 5)
    // the marker landed; headers carry the txn id
    val id = ManifestTable.headerMeta(a, 2)("txn")
    assert(ManifestTable.headerMeta(b, 2)("txn") == id)
    // txnlog is ROOT-RELATIVE (relocation-safe — the ArtifactCache
    // staging-then-move lesson): resolve against each root
    val logA = a.toAbsolutePath.resolve(
      ManifestTable.headerMeta(a, 2)("txnlog")).normalize()
    val logB = b.toAbsolutePath.resolve(
      ManifestTable.headerMeta(b, 2)("txnlog")).normalize()
    assert(logA == logB.normalize() && Files.exists(logA) &&
      Files.exists(logA.resolveSibling(
        logA.getFileName.toString + ".committed")))
    // single-table txns are rejected toward appendCommit
    val e = intercept[IllegalArgumentException] {
      ManifestTable.commitTxn(Seq((a, Nil, "")))
    }
    assert(e.getMessage.contains("appendCommit"), e.getMessage)
  }

  test("crash between the two publishes: roll-forward on first read, " +
    "idempotent, composes with a concurrent append") {
    val (a, b) = (mkTable("ca", 10), mkTable("cb", 4))
    val addsA = stageAdds(a, 10, 16, "cxa")
    val addsB = stageAdds(b, 100, 103, "cxb")
    // replicate commitTxn's prepare + FIRST publish only (the crash)
    val id = s"tw158crash${System.nanoTime()}"
    val txnDir = a.resolve("_txns")
    Files.createDirectories(txnDir)
    val intent = txnDir.resolve(s"$id.txt")
    Files.write(intent,
      ((s"table=${a.toAbsolutePath}" +: addsA.map("add=" + _)) ++
       (s"table=${b.toAbsolutePath}" +: addsB.map("add=" + _)))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    ManifestTable.commitOps(a, addsA, Nil,
      s"txn=$id txnlog=${a.toAbsolutePath.relativize(intent.toAbsolutePath)}")
    // a concurrent writer appends to B inside the crash window
    ManifestTable.appendCommit(b, stageAdds(b, 200, 202, "conc"))
    // B shows NO txn rows yet (nothing touched A)
    assert(ManifestTable.read(spark, b,
        ManifestTable.latestVersion(b), schema)
      .filter(col("k") >= 100 && col("k") < 200).count() == 0,
      "txn rows must not be visible on B before recovery")
    // first READ of A completes the transaction
    assert(ManifestTable.read(spark, a, 2, schema).count() == 16)
    val bv = ManifestTable.latestVersion(b)
    val bRows = ManifestTable.read(spark, b, bv, schema)
    assert(bRows.count() == 4 + 3 + 2,
      s"roll-forward must land B's adds beside the concurrent append")
    assert(Files.exists(intent.resolveSibling(
      intent.getFileName.toString + ".committed")))
    // idempotent: more reads change nothing
    ManifestTable.filesFor(a, 2)
    assert(ManifestTable.latestVersion(b) == bv)
  }

  test("a pending txn with a missing intent log fails loudly") {
    val a = mkTable("ma", 6)
    val adds = stageAdds(a, 6, 9, "mxa")
    val ghost = a.resolve("_txns").resolve("ghost.txt")
    ManifestTable.commitOps(a, adds, Nil,
      s"txn=tw158ghost${System.nanoTime()} " +
      s"txnlog=${ghost.toAbsolutePath}")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.filesFor(a, 2)
    }
    assert(e.getMessage.contains("intent"),
      s"missing intent must fail loudly: ${e.getMessage}")
  }
}
