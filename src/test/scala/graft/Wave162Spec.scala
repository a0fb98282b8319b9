package graft

import java.nio.file.Files

import graft.operators.{FileEntry, ManifestTable}
import graft.plans.ManifestDmlStrategy
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Round-11 wave 162 — the closing adversarial-review fixes:
  *
  *  - readPruned on a bloom equality carries the DV guard
  *  - double admission normalizes ±0.0 (Spark records bounds under
  *    SQL ordering where -0.0 == 0.0; raw Double.compare would
  *    falsely prove disjointness and skip matching rows)
  *  - buildBloomIndex rejects non-BIGINT columns (the plan-side probe
  *    hashes a LONG literal — a narrower build would false-negative)
  *  - an all-NULL-key MERGE source still runs its NOT MATCHED inserts
  *  - MERGE WITH SCHEMA EVOLUTION widens ATOMICALLY with the merge
  *    commit: a failing statement leaves the schema untouched
  *  - the streaming sink honors statsDecimalColumns
  *  - txn intents record base= so idempotence scans are O(new commits)
  */
class Wave162Spec extends SparkSpec {

  test("bloom reader refuses DV-carrying snapshots; build rejects " +
    "non-BIGINT columns") {
    val root = Files.createTempDirectory("graft_w162_dv").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 100)
      .selectExpr("id AS k", "cast(id AS int) AS i")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(2, col("k")), root, "b", Seq("k")))
    val e1 = intercept[IllegalArgumentException] {
      ManifestTable.buildBloomIndex(spark, root, df.schema, "i")
    }
    assert(e1.getMessage.contains("BIGINT"), e1.getMessage)
    ManifestTable.buildBloomIndex(spark, root, df.schema, "k")
    ManifestTable.deleteMOR(root, spark.range(0, 5).selectExpr("id AS k"))
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.readPruned(spark, root,
        ManifestTable.latestVersion(root), df.schema,
        Seq(org.apache.spark.sql.sources.EqualTo("k", 3L)))
    }
    assert(e2.getMessage.contains("deletion vectors"), e2.getMessage)
  }

  test("double admission treats -0.0 and 0.0 as one zero") {
    val e = FileEntry("f", Nil, Nil, Seq("p" -> (-0.0d, -0.0d)))
    assert(e.mayContainDbl("p", 0.0d, 0.0d),
      "a (-0.0, -0.0) file must admit a [0.0, 0.0] band")
    val e2 = FileEntry("g", Nil, Nil, Seq("p" -> (0.0d, 0.0d)))
    assert(e2.mayContainDbl("p", Double.NegativeInfinity, -0.0d),
      "a (0.0, 0.0) file must admit an upper bound of -0.0")
    // genuine disjointness still skips
    assert(!e.mayContainDbl("p", 1.0d, 2.0d))
  }

  test("an all-NULL-key MERGE source still inserts its NOT MATCHED " +
    "rows") {
    val wh = Files.createTempDirectory("graft_w162_null")
    val cat = "w162null"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    bridge.addStrategy(spark, ManifestDmlStrategy)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(4)")
    spark.sql("SELECT CAST(NULL AS BIGINT) AS k, id AS sv FROM range(3)")
      .createOrReplaceTempView("w162_null_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING w162_null_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.sv
         |WHEN NOT MATCHED THEN INSERT (v) VALUES (s.sv)""".stripMargin)
    val got = spark.sql(s"SELECT v FROM $cat.t WHERE k IS NULL ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 2L),
      s"NULL-key source rows are legitimate inserts: $got")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens atomically: a failing " +
    "statement leaves the schema untouched, a succeeding one widens " +
    "in the merge commit itself") {
    val wh = Files.createTempDirectory("graft_w162_evo")
    val cat = "w162evo"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    bridge.addStrategy(spark, ManifestDmlStrategy)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(6)")
    val root = wh.resolve("t")
    val before = ManifestTable.latestVersion(root)
    // duplicate source keys → the statement FAILS; the extra column
    // must NOT survive as half-applied DDL
    spark.sql("SELECT 1L AS k, id AS sv, id AS extra FROM range(2)")
      .createOrReplaceTempView("w162_evo_dup")
    intercept[Exception] {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
           |USING w162_evo_dup s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
    }
    assert(ManifestTable.latestVersion(root) == before,
      "a failed evolving MERGE must not commit anything")
    assert(!spark.sql(s"SELECT * FROM $cat.t").columns.contains("extra"),
      "a failed evolving MERGE must not widen the schema")
    // the succeeding statement widens IN the merge commit (exactly
    // one version, no separate ADD)
    spark.sql("SELECT 1L AS k, 100L AS sv, 7L AS extra")
      .createOrReplaceTempView("w162_evo_ok")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t t
         |USING w162_evo_ok s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
    assert(ManifestTable.latestVersion(root) == before + 1,
      "evolution must ride the merge commit, not a separate ADD")
    val got = spark.sql(s"SELECT k, v, extra FROM $cat.t ORDER BY k")
      .collect()
    // the schema widened, the assigned column updated — and the
    // evolved column stays NULL under an EXPLICIT assignment list
    // (round 12 — r11-ADVICE fix: only SET * / INSERT * propagate)
    assert(got.forall(_.isNullAt(2)) &&
      got.find(_.getLong(0) == 1L).exists(_.getLong(1) == 100L))
  }

  test("the streaming sink honors statsDecimalColumns; txn intents " +
    "record base=") {
    val base = Files.createTempDirectory("graft_w162_sink")
    val root = base.resolve("t")
    Files.createDirectories(root)
    val sink = new graft.sources.ManifestSource().createSink(
      spark.sqlContext, Map("path" -> root.toString,
        "statsDecimalColumns" -> "p"),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0, spark.range(0, 10).selectExpr("id AS k",
      "cast(id AS decimal(10,2)) AS p"))
    val entries = ManifestTable.entriesFor(root, 1)
    assert(entries.nonEmpty && entries.forall(_.bandDec("p").isDefined),
      s"sink must record decimal bounds: $entries")
    // txn intent carries base= (the O(new commits) idempotence bound)
    val (a, b) = (base.resolve("a"), base.resolve("b"))
    Files.createDirectories(a); Files.createDirectories(b)
    ManifestTable.commit(a, Nil); ManifestTable.commit(b, Nil)
    ManifestTable.commitTxn(Seq(
      (a, ManifestTable.stage(spark.range(3).selectExpr("id AS k"),
        a, "xa"), ""),
      (b, ManifestTable.stage(spark.range(3).selectExpr("id AS k"),
        b, "xb"), "")))
    val intent = java.nio.file.Paths.get(a.toAbsolutePath.toString,
      ManifestTable.headerMeta(a, 2)("txnlog"))
    val body = new String(Files.readAllBytes(intent.normalize), "UTF-8")
    assert(body.contains("base=1"),
      s"intent must record each participant's base version:\n$body")
  }
}
