package graft

import java.nio.file.{Files, Path}

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-12 wave 167 — r11-VERDICT task 4: COPY-ON-WRITE participants
  * in multi-table transactions (round 11 was append-only). Claims
  * proven here:
  *
  *  - happy path: one commitTxnCow rewrites a band in table A
  *    (removes + adds) and appends to table B; untouched A files
  *    survive by path
  *  - crash between the publishes: B (the CoW participant) shows the
  *    OLD state until the first read of A rolls the whole txn forward
  *  - a concurrent commit that rewrites a removed file POISONS the
  *    txn loudly (ConcurrentModificationException on completion)
  *  - a stale removed path fails the pre-check BEFORE any intent
  *    lands (clean abort, no residue)
  */
class Wave167Spec extends SparkSpec {

  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT")

  private def mkTable(tag: String, rows: Long, files: Int): Path = {
    val root = Files.createTempDirectory(s"graft_w167_$tag").resolve("t")
    Files.createDirectories(root)
    if (rows > 0)
      ManifestTable.commit(root, ManifestTable.stage(
        spark.range(0, rows).selectExpr("id AS k", "id AS v")
          .repartitionByRange(files, col("k")), root, "base", Seq("k")))
    else ManifestTable.commit(root, Nil)
    root
  }

  test("happy path: one txn rewrites A's band (CoW) and appends B's " +
    "audit; untouched files survive by path") {
    val (a, b) = (mkTable("ha", 400, 4), mkTable("hb", 0, 0))
    val (hit, _, _) = ManifestTable.prunedEntries(a, 1,
      Seq(("k", 0L, 99L)), Nil)
    assert(hit.nonEmpty && hit.size < 4, s"band hit ${hit.size}")
    val touched = spark.read.schema(schema).parquet(
      hit.map(e => a.resolve("data").resolve(e.path).toString): _*)
    val addsA = ManifestTable.stage(
      touched.withColumn("v",
        when(col("k") < 100, col("v") + 1000).otherwise(col("v"))),
      a, "cow", Seq("k"))
    val addsB = ManifestTable.stage(
      spark.range(0, 100).selectExpr("id AS k", "id AS v"),
      b, "audit", Seq("k"))
    val vs = ManifestTable.commitTxnCow(Seq(
      (a, addsA, hit.map(_.path), ""), (b, addsB, Nil, "")))
    assert(vs == Seq(2, 2), s"versions $vs")
    // A: band re-priced, survivors byte-identical by path
    val live2 = ManifestTable.filesFor(a, 2).toSet
    val survivors = ManifestTable.filesFor(a, 1).toSet -- hit.map(_.path)
    assert(survivors.subsetOf(live2), "untouched files must survive")
    assert(hit.forall(e => !live2.contains(e.path)),
      "touched files must be replaced")
    val aRows = ManifestTable.read(spark, a, 2, schema)
    assert(aRows.filter(col("k") < 100 && col("v") === col("k") + 1000)
      .count() == 100)
    assert(aRows.count() == 400)
    assert(ManifestTable.read(spark, b, 2, schema).count() == 100)
  }

  test("crash between publishes: the CoW participant rolls forward " +
    "on the first read of the published one") {
    val (a, b) = (mkTable("ca", 10, 1), mkTable("cb", 200, 2))
    val addsA = ManifestTable.stage(
      spark.range(10, 16).selectExpr("id AS k", "id AS v"), a, "txa", Seq("k"))
    // B's CoW half: rewrite its first file with +1 values
    val f0 = ManifestTable.entriesFor(b, 1).head
    val repl = spark.read.schema(schema)
      .parquet(b.resolve("data").resolve(f0.path).toString)
      .withColumn("v", col("v") + 1)
    val addsB = ManifestTable.stage(repl, b, "txb", Seq("k"))
    val id = s"tw167crash${System.nanoTime()}"
    val txnDir = a.resolve("_txns")
    Files.createDirectories(txnDir)
    val intent = txnDir.resolve(s"$id.txt")
    Files.write(intent,
      ((Seq(s"table=${a.toAbsolutePath}", "base=1") ++
        addsA.map("add=" + _)) ++
       (Seq(s"table=${b.toAbsolutePath}", "base=1") ++
        addsB.map("add=" + _) ++ Seq(s"del=${f0.path}")))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    ManifestTable.commitOps(a, addsA, Nil,
      s"txn=$id txnlog=${a.toAbsolutePath.relativize(intent.toAbsolutePath)}")
    // crash here: B untouched until someone reads A
    assert(ManifestTable.latestVersion(b) == 1)
    assert(ManifestTable.read(spark, a, 2, schema).count() == 16)
    // the read rolled B forward: file replaced, values bumped
    assert(ManifestTable.latestVersion(b) == 2)
    assert(!ManifestTable.filesFor(b, 2).contains(f0.path),
      "the CoW remove must apply on roll-forward")
    val v2 = ManifestTable.read(spark, b, 2, schema)
    assert(v2.count() == 200 &&
      v2.filter(col("v") === col("k") + 1).count() == repl.count())
  }

  test("a concurrent rewrite of a removed file poisons the txn " +
    "LOUDLY on completion") {
    val (a, b) = (mkTable("pa", 10, 1), mkTable("pb", 100, 2))
    val addsA = ManifestTable.stage(
      spark.range(10, 12).selectExpr("id AS k", "id AS v"), a, "pxa", Seq("k"))
    val f0 = ManifestTable.entriesFor(b, 1).head
    val addsB = ManifestTable.stage(
      spark.range(500, 550).selectExpr("id AS k", "id AS v"), b, "pxb", Seq("k"))
    val id = s"tw167poison${System.nanoTime()}"
    val txnDir = a.resolve("_txns")
    Files.createDirectories(txnDir)
    val intent = txnDir.resolve(s"$id.txt")
    Files.write(intent,
      ((Seq(s"table=${a.toAbsolutePath}", "base=1") ++
        addsA.map("add=" + _)) ++
       (Seq(s"table=${b.toAbsolutePath}", "base=1") ++
        addsB.map("add=" + _) ++ Seq(s"del=${f0.path}")))
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    ManifestTable.commitOps(a, addsA, Nil,
      s"txn=$id txnlog=${a.toAbsolutePath.relativize(intent.toAbsolutePath)}")
    // the concurrent writer rewrites f0 before anyone completes
    val replLines = ManifestTable.stage(
      spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v"),
      b, "conc", Seq("k"))
    ManifestTable.commitOps(b, replLines, Seq(f0.path))
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestTable.filesFor(a, 2) // triggers roll-forward
    }
    assert(e.getMessage.contains(f0.path), e.getMessage)
  }

  test("a stale removed path fails the pre-check before any intent " +
    "lands (clean abort)") {
    val (a, b) = (mkTable("qa", 10, 1), mkTable("qb", 10, 1))
    val addsA = ManifestTable.stage(
      spark.range(10, 12).selectExpr("id AS k", "id AS v"), a, "qxa", Seq("k"))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.commitTxnCow(Seq(
        (a, addsA, Nil, ""),
        (b, Nil, Seq("never-existed.parquet"), "")))
    }
    assert(e.getMessage.contains("not live"), e.getMessage)
    val txns = a.resolve("_txns")
    assert(!Files.exists(txns) ||
      { val s = Files.list(txns); try !s.iterator().hasNext finally s.close() },
      "a pre-check abort must leave no intent residue")
    assert(ManifestTable.latestVersion(a) == 1 &&
      ManifestTable.latestVersion(b) == 1)
  }
}
