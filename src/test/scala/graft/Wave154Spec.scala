package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-11 wave 154: the REGISTERED streaming sink
  * (`writeStream.format("graft-manifest")`, r10-VERDICT task 3).
  * Claims proven here:
  *
  *  - a replayed batch id no-ops BEFORE staging (the ledger check) —
  *    addBatch twice with one id commits exactly one version
  *  - restart with the same checkpoint re-delivers nothing already
  *    committed: after new source data arrives, only the new batch
  *    lands (exactly-once across restart, end to end through the
  *    registered path)
  *  - staged files carry the requested typed stats (a streamed table
  *    composes with the stats consumers)
  *  - Complete mode replaces the live set per batch; Update is
  *    rejected loudly
  *  - an empty first batch still records the table's schema
  */
class Wave154Spec extends SparkSpec {

  test("replayed batch id no-ops; typed stats recorded") {
    val base = Files.createTempDirectory("graft_w154_replay")
    val root = base.resolve("t")
    Files.createDirectories(root)
    val sink = new graft.sources.ManifestSource().createSink(
      spark.sqlContext, Map("path" -> root.toString,
        "statsColumns" -> "k", "statsStringColumns" -> "s"),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    val df = spark.range(0, 20).selectExpr("id AS k", "concat('v', id) AS s")
    sink.addBatch(0, df)
    val v1 = ManifestTable.latestVersion(root)
    sink.addBatch(0, df) // at-least-once re-delivery
    assert(ManifestTable.latestVersion(root) == v1,
      "a replayed batch id must not commit a second version")
    sink.addBatch(1, spark.range(20, 30)
      .selectExpr("id AS k", "concat('v', id) AS s"))
    assert(ManifestTable.latestVersion(root) == v1 + 1)
    val entries = ManifestTable.entriesFor(root,
      ManifestTable.latestVersion(root))
    assert(entries.forall(e => e.band("k").isDefined &&
        e.bandStr("s").isDefined),
      s"sink-staged files must carry typed stats: $entries")
    assert(ManifestTable.read(spark, root,
      ManifestTable.latestVersion(root), df.schema).count() == 30)
  }

  test("exactly-once across restart through the registered sink") {
    val base = Files.createTempDirectory("graft_w154_restart")
    val (srcDir, root, ckpt) = (base.resolve("src"), base.resolve("t"),
      base.resolve("ckpt"))
    Files.createDirectories(srcDir); Files.createDirectories(root)
    def addSrc(lo: Long, hi: Long, name: String): Unit =
      spark.range(lo, hi).selectExpr("id AS k")
        .coalesce(1).write.mode("append").parquet(srcDir.toString + "/" + name)
    addSrc(0, 10, "a")
    def drain(): Unit = {
      val q = spark.readStream
        .schema("k BIGINT")
        .parquet(srcDir.toString + "/*")
        .writeStream.format("graft-manifest")
        .option("path", root.toString)
        .option("statsColumns", "k")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val afterFirst = ManifestTable.read(spark, root,
      ManifestTable.latestVersion(root), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
    assert(afterFirst.count() == 10)
    addSrc(10, 25, "b")
    drain() // restart on the same checkpoint
    val rows = ManifestTable.read(spark, root,
        ManifestTable.latestVersion(root), org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == (0L until 25L).toSeq,
      s"restart must land only the new batch, got ${rows.size} rows")
  }

  test("an empty first micro-batch records schema= and reads as 0 rows") {
    Seq(org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.OutputMode.Complete()).foreach { m =>
      val root = Files.createTempDirectory("graft_w154_empty").resolve("t")
      Files.createDirectories(root)
      val sink = new graft.sources.ManifestSource().createSink(
        spark.sqlContext, Map("path" -> root.toString), Nil, m)
      sink.addBatch(0, spark.range(0).selectExpr("id AS k", "'x' AS s"))
      assert(ManifestTable.latestVersion(root) == 1 &&
        ManifestTable.filesFor(root, 1).isEmpty)
      assert(ManifestTable.headerMeta(root, 1).get("schema")
        .contains("k:bigint,s:string"), s"$m")
      assert(spark.read.format("graft-manifest")
        .option("path", root.toString).load().count() == 0, s"$m")
    }
  }

  test("Complete mode replaces the live set; Update is rejected") {
    val base = Files.createTempDirectory("graft_w154_modes")
    val root = base.resolve("t")
    Files.createDirectories(root)
    val sink = new graft.sources.ManifestSource().createSink(
      spark.sqlContext, Map("path" -> root.toString),
      Nil, org.apache.spark.sql.streaming.OutputMode.Complete())
    sink.addBatch(0, spark.range(0, 5).selectExpr("id AS k"))
    sink.addBatch(1, spark.range(0, 3).selectExpr("id AS k"))
    val latest = ManifestTable.latestVersion(root)
    assert(ManifestTable.read(spark, root, latest,
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).count() == 3,
      "Complete mode must replace, not append")
    sink.addBatch(1, spark.range(0, 4).selectExpr("id AS k"))
    assert(ManifestTable.latestVersion(root) == latest,
      "a replayed Complete batch must no-op")
    val e = intercept[IllegalArgumentException] {
      new graft.sources.ManifestSource().createSink(
        spark.sqlContext, Map("path" -> root.toString),
        Nil, org.apache.spark.sql.streaming.OutputMode.Update())
    }
    assert(e.getMessage.contains("Update"), e.getMessage)
  }
}
