package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import graft.plans.ManifestDmlStrategy
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.Trigger

/** Round-10 wave 150: hardening from the closing adversarial review
  * of the round's new surfaces. Claims proven here:
  *
  *  - the streaming source FAILS LOUDLY when the streamed range
  *    contains merge-on-read deletes (a DV commit's file delta is
  *    empty — silence would be append-only semantics nobody asked
  *    for), and a stream STARTING below an outstanding vector (which
  *    would re-emit deleted rows raw) fails the same way;
  *    `.option("ignoreDeletes", "true")` opts into append-only
  *  - `stageHidden` rejects non-BIGINT transform columns up front —
  *    spark-side xxhash64 of an int differs from the driver-side
  *    hash of the widened long, so the derived bucket band would
  *    FALSELY prune (silent missing rows)
  *  - SQL UPDATE and MERGE work on a COLUMN-MAPPED table (rename,
  *    then DML under the new logical name; files keep physical names)
  */
class Wave150Spec extends SparkSpec {

  test("streaming a range with MOR deletes fails loudly; " +
    "ignoreDeletes opts into append-only semantics") {
    val root = Files.createTempDirectory("graft_w150_dv").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 50).selectExpr("id AS k", "id AS v")
    ManifestTable.commit(root,
      ManifestTable.stage(df, root, "base", Seq("k")))
    val ckpt = Files.createTempDirectory("graft_w150_ck").toString
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def drain(ignore: Boolean): Long = {
      val before = seen.get()
      val q = spark.readStream.format("graft-manifest")
        .option("path", root.toString)
        .option("ignoreDeletes", ignore.toString).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      seen.get() - before
    }
    assert(drain(ignore = false) == 50)
    // a MOR delete lands: the next incremental range carries a DV
    ManifestTable.deleteMOR(root,
      spark.range(0, 50).filter(col("id") % 10 === 0).selectExpr("id AS k"))
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(50, 60).selectExpr("id AS k", "id AS v"), root, "ap"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(ignore = false)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    assert(msgs(e).contains("ignoreDeletes"),
      s"expected the MOR-delete guard, got: ${msgs(e)}")
    // opting in streams the append (and only the append)
    assert(drain(ignore = true) == 10)
    // a FRESH stream from version 0 below an outstanding vector also
    // fails — it would re-emit the deleted rows raw
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val st = spark.readStream.format("graft-manifest")
        .option("path", root.toString).load()
      val q = st.writeStream.format("memory").queryName("w150_dv_fresh")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(msgs(e2).contains("ignoreDeletes"),
      s"fresh stream below a DV must fail: ${msgs(e2)}")
  }

  test("stageHidden rejects non-BIGINT transform columns (the false-" +
    "prune hazard)") {
    val root = Files.createTempDirectory("graft_w150_int").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(10).selectExpr("CAST(id AS INT) AS c")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.stageHidden(df, root, "b",
        Seq(ManifestTable.BucketTransform(8, "c")), files = 2)
    }
    assert(e.getMessage.contains("BIGINT"),
      s"expected the type guard, got: ${e.getMessage}")
  }

  test("CoW rewrites on a hidden-partitioned table preserve the " +
    "virtual transform stats (the review-found crash: preserved stat " +
    "lists name __pt* columns the logical-schema re-read lacks)") {
    val root = Files.createTempDirectory("graft_w150_hid").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 2000).selectExpr("id AS k", "id * 7 AS c")
    val ts = Seq(ManifestTable.BucketTransform(16, "c"))
    ManifestTable.commit(root,
      ManifestTable.stageHidden(df, root, "base", ts, files = 8),
      ManifestTable.transformsMeta(ts) +
        s" schema=${ManifestTable.schemaMeta(df.schema)}")
    // a CoW delete through the V2 path (this CRASHED before the fix:
    // stageWithTypedStats on a frame without __ptb16_c)
    val v2 = ManifestTable.deleteWhereCoW(spark, root, df.schema,
      col("k") < 100)
    val es = ManifestTable.entriesFor(root, v2)
    assert(es.nonEmpty && es.forall(_.band("__ptb16_c").isDefined),
      s"rewritten files lost the transform stats: $es")
    // the transform prune still works post-rewrite, and is exact
    val target = 777L * 7L
    val got = ManifestTable.readPruned(spark, root, v2, df.schema,
      between(("c", target, target))).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(777L))
    assert(ManifestTable.read(spark, root, v2, df.schema).count() == 1900)
    // compactMOR on a hidden table restores the columns too
    ManifestTable.deleteMOR(root,
      spark.range(100, 110).selectExpr("id AS k"))
    val v4 = ManifestTable.compactMOR(spark, root,
      ManifestTable.latestVersion(root), df.schema, "k", 4)
    val es4 = ManifestTable.entriesFor(root, v4)
    assert(es4.forall(_.band("__ptb16_c").isDefined),
      s"compactMOR lost the transform stats: $es4")
    assert(ManifestTable.read(spark, root, v4, df.schema).count() == 1890)
  }

  test("SQL UPDATE and MERGE work on a column-mapped (renamed) table") {
    val wh = Files.createTempDirectory("graft_w150_cmap")
    val cat = "w150cmap"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    bridge.addStrategy(spark, ManifestDmlStrategy)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(20)")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN k TO key")
    // UPDATE under the NEW logical name; pre-rename files keep the
    // physical name k on disk
    spark.sql(s"UPDATE $cat.t SET v = v + 100 WHERE key < 5")
    val got = spark.sql(s"SELECT key, v FROM $cat.t ORDER BY key")
      .collect()
    assert(got.length == 20)
    got.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) == (if (k < 5) k + 100 else k), s"row $r")
    }
    // MERGE under the new logical name
    spark.range(18, 25).selectExpr("id AS key", "id * 1000 AS v")
      .createOrReplaceTempView("w150_cmap_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING w150_cmap_src s ON t.key = s.key
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got2 = spark.sql(s"SELECT key, v FROM $cat.t ORDER BY key")
      .collect()
    assert(got2.length == 25)
    got2.filter(_.getLong(0) >= 18).foreach(r =>
      assert(r.getLong(1) == r.getLong(0) * 1000, s"merged row $r"))
    // physical files still carry 'k' (mapping intact, not a rewrite
    // to logical names)
    val root = java.nio.file.Paths.get(wh.toString, "t")
    val latest = ManifestTable.latestVersion(root)
    assert(ManifestTable.columnMap(root, latest) == Map("key" -> "k"),
      s"colmap lost: ${ManifestTable.columnMap(root, latest)}")
  }
}
