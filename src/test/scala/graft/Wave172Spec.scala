package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import graft.plans.GraftSql
import org.apache.spark.sql.functions._

/** Round-12 wave 172: RESTORE / rollback — Delta's `RESTORE TABLE …
  * TO VERSION AS OF`, Iceberg's rollback_to_snapshot. Claims proven
  * here:
  *
  *  - restore undoes a CoW rewrite as ONE new checkpoint; the undone
  *    version stays time-travelable (history preserved)
  *  - the deletion-vector lists restore (a rollback ONTO a MOR
  *    snapshot resurrects its dv= state; rolling back PAST a DV
  *    commit clears it)
  *  - the column-mapping state restores (a rollback past a rename
  *    reads under the old logical schema again)
  *  - a vacuumed target fails loudly; restore-to-latest no-ops;
  *    the CALL form and the statement form are the same procedure
  */
class Wave172Spec extends SparkSpec {

  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT")

  test("restore undoes a CoW delete; history preserved; no-op on " +
    "latest") {
    val root = Files.createTempDirectory("graft_w172").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 400).selectExpr("id AS k", "id AS v")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    ManifestTable.deleteWhereCoW(spark, root, schema, col("k") < 100,
      longBands = Seq(("k", 0L, 99L)))
    assert(ManifestTable.read(spark, root, 2, schema).count() == 300)
    val v3 = ManifestTable.restore(root, 1)
    assert(v3 == 3)
    assert(ManifestTable.read(spark, root, 3, schema).count() == 400,
      "restore must resurrect the deleted band")
    // history preserved: v2 still shows the deleted state
    assert(ManifestTable.read(spark, root, 2, schema).count() == 300)
    // stats ride back verbatim: a band read still prunes
    val (hit, _, _) = ManifestTable.prunedEntries(root, 3,
      Seq(("k", 0L, 50L)), Nil)
    assert(hit.nonEmpty && hit.size < ManifestTable.filesFor(root, 3).size)
    // no-op on latest
    assert(ManifestTable.restore(root, 3) == 3)
  }

  test("restore resurrects and clears deletion-vector state") {
    val root = Files.createTempDirectory("graft_w172_dv").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 100).selectExpr("id AS k", "id AS v")
    ManifestTable.commit(root, ManifestTable.stage(
      df, root, "base", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    ManifestTable.deleteMOR(root,
      spark.range(0, 10).selectExpr("id AS k"))        // v2: dv
    ManifestTable.compactMOR(spark, root, 2, schema, "k", 1) // v3: clean
    // rollback ONTO the MOR snapshot: dv= restores, readMOR subtracts
    val v4 = ManifestTable.restore(root, 2)
    assert(ManifestTable.dvsFor(root, v4).nonEmpty,
      "restoring a MOR snapshot must restore its dv= list")
    assert(ManifestTable.readMOR(spark, root, v4, schema, "k")
      .count() == 90)
    // rollback PAST the DV commit: dv= clears, raw rows return
    val v5 = ManifestTable.restore(root, 1)
    assert(ManifestTable.dvsFor(root, v5).isEmpty,
      "restoring past the DV commit must clear dv=")
    assert(ManifestTable.read(spark, root, v5, schema).count() == 100)
  }

  test("restore rolls the column-mapping state back") {
    val root = Files.createTempDirectory("graft_w172_cm").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 50).selectExpr("id AS k", "id AS price")
    ManifestTable.appendCommit(root, ManifestTable.stage(df, root, "b"),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    val v2 = ManifestTable.renameColumn(root, "price", "amount")
    assert(ManifestTable.readEvolved(spark, root, v2)
      .columns.toSeq == Seq("k", "amount"))
    val v3 = ManifestTable.restore(root, 1)
    assert(ManifestTable.columnMap(root, v3).isEmpty,
      "restore past the rename must clear the mapping")
    assert(ManifestTable.readEvolved(spark, root, v3)
      .columns.toSeq == Seq("k", "price"),
      "the pre-rename logical schema must be back")
  }

  test("a vacuumed restore target fails loudly; CALL and statement " +
    "forms agree") {
    val cat = "w172sql"
    val wh = Files.createTempDirectory("graft_w172_sql")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.range(0, 100).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("w172_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM w172_src")        // v2
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT k, v + 1 FROM w172_src") // v3
    val root = wh.resolve("t")
    // CALL form restores v2's live set
    val v4 = GraftSql.sql(spark,
      s"CALL $cat.system.restore($cat.t, 2)").head().getString(0).toInt
    assert(v4 == 4)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").head().getLong(0) ==
      (0L until 100).sum)
    // statement form = the same procedure
    val v5 = GraftSql.sql(spark,
      s"RESTORE TABLE $cat.t TO VERSION AS OF 3")
      .head().getString(0).toInt
    assert(v5 == 5)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").head().getLong(0) ==
      (0L until 100).sum + 100)
    // vacuum v2's overwritten files away → restoring v2 fails loudly
    ManifestTable.expireManifests(root, 5)
    ManifestTable.vacuum(root, 5, retainMillis = 0)
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, s"RESTORE TABLE $cat.t TO VERSION AS OF 2")
        .collect()
    }
    assert(e.getMessage.contains("outside committed") ||
      e.getMessage.contains("vacuumed"), e.getMessage)
  }
}
