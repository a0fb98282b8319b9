package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import graft.plans.ManifestDmlStrategy
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Round-10 wave 143: SQL row-level DML for the manifest format
  * (r9-VERDICT task 2). Claims proven here:
  *
  *  - `UPDATE t SET … WHERE …` through [[ManifestDmlStrategy]] →
  *    [[ManifestTable.updateWhereCoW]]: SQL semantics (cond NULL keeps
  *    the row), and the WHERE's key band rewrites ONLY the
  *    stats-admitted files (path identity of the untouched set)
  *  - `MERGE INTO … ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN
  *    NOT MATCHED THEN INSERT *` → [[ManifestTable.upsert]]: the SQL
  *    form is row-identical to the programmatic upsert on the same
  *    inputs, and duplicate source keys fail like Delta's "multiple
  *    source rows matched"
  *  - still-unsupported MERGE shapes (a non-keyed ON condition; the
  *    clause shapes themselves became legal in round 11's general
  *    merge, Wave153Spec) fail loudly, and foreign (non-manifest)
  *    targets are left to Spark's built-in planning (the strategy
  *    returns Nil, not an error)
  */
class Wave143Spec extends SparkSpec {

  private def freshCatalog(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft_w143_$tag")
    val cat = s"w143$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    bridge.addStrategy(spark, ManifestDmlStrategy)
    cat
  }

  private def rootOf(cat: String, table: String) =
    java.nio.file.Paths.get(
      spark.conf.get(s"spark.sql.catalog.$cat.warehouse"), table)

  test("SQL UPDATE: assigned values where cond TRUE, survivors " +
    "verbatim, and only band-admitted files rewritten") {
    val cat = freshCatalog("upd")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT, s STRING) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    // 4 range-laid files so the band below can prove file skipping
    spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v",
        "concat('r', id) AS s")
      .repartitionByRange(4, col("k"))
      .createOrReplaceTempView("w143_upd_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM w143_upd_src")
    val root = rootOf(cat, "t")
    val before = ManifestTable.filesFor(root,
      ManifestTable.latestVersion(root))
    spark.sql(s"UPDATE $cat.t SET v = v + 1000, s = 'upd' " +
      "WHERE k >= 10 AND k < 20")
    val after = ManifestTable.filesFor(root,
      ManifestTable.latestVersion(root))
    // the [10,20) band sits in one of four range files: the other
    // three must survive BY PATH (copy-on-write, stats-pruned)
    assert(before.toSet.intersect(after.toSet).size >= 3,
      s"UPDATE rewrote stats-disjoint files: before=$before after=$after")
    val got = spark.sql(s"SELECT k, v, s FROM $cat.t ORDER BY k")
      .collect()
    assert(got.length == 100)
    got.foreach { r =>
      val k = r.getLong(0)
      if (k >= 10 && k < 20)
        assert(r.getLong(1) == k * 2 + 1000 && r.getString(2) == "upd",
          s"row $k missed the update: $r")
      else
        assert(r.getLong(1) == k * 2 && r.getString(2) == s"r$k",
          s"row $k not verbatim: $r")
    }
  }

  test("SQL UPDATE WHERE over a NULL-valued predicate keeps the row " +
    "(SQL semantics, not NULL-as-true)") {
    val cat = freshCatalog("nul")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, NULL), (3, 30)")
    spark.sql(s"UPDATE $cat.t SET v = 0 WHERE v > 5")
    val got = spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect()
    assert(got.map(r => (r.getLong(0),
      if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq((1L, 0L), (2L, -1L), (3L, 0L)),
      s"NULL predicate must keep the row: ${got.mkString(",")}")
  }

  test("SQL MERGE INTO == programmatic upsert, row for row") {
    val cat = freshCatalog("mrg")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT, s STRING) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    val base = spark.range(0, 80).selectExpr("id AS k", "id AS v",
      "concat('b', id) AS s")
    base.repartitionByRange(4, col("k"))
      .createOrReplaceTempView("w143_mrg_base")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM w143_mrg_base")
    // updates: matched keys %7 replaced, inserts above max
    val updates = spark.range(0, 80).filter(col("id") % 7 === 0)
      .selectExpr("id AS k", "id + 500 AS v", "'U' AS s")
      .unionByName(spark.range(100, 110)
        .selectExpr("id AS k", "id AS v", "'N' AS s"))
    updates.createOrReplaceTempView("w143_mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING w143_mrg_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the programmatic twin on a second table
    val root2 = Files.createTempDirectory("w143_api").resolve("t")
    Files.createDirectories(root2)
    val v1 = ManifestTable.commit(root2, ManifestTable.stage(
      base.repartitionByRange(4, col("k")), root2, "base", Seq("k")))
    ManifestTable.upsert(spark, root2, v1, base.schema, "k", updates)
    val sqlRows = spark.sql(s"SELECT k, v, s FROM $cat.t ORDER BY k")
      .collect().toSeq
    val apiRows = ManifestTable.read(spark, root2,
        ManifestTable.latestVersion(root2), base.schema)
      .orderBy("k").collect().toSeq
    assert(sqlRows == apiRows,
      s"SQL MERGE diverged from upsert: ${sqlRows.diff(apiRows)}")
    assert(sqlRows.count(_.getString(2) == "U") == 12 &&
      sqlRows.count(_.getString(2) == "N") == 10)
  }

  test("MERGE with explicit column lists (UPDATE SET t.c = s.c …, " +
    "INSERT (…) VALUES (…)) plans when both images agree") {
    val cat = freshCatalog("cols")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(10)")
    spark.range(5, 15).selectExpr("id AS k", "id * 100 AS v")
      .createOrReplaceTempView("w143_cols_src")
    spark.sql(
      s"""MERGE INTO $cat.t t USING w143_cols_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    val got = spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect()
    assert(got.length == 15)
    got.foreach { r =>
      val k = r.getLong(0)
      assert(r.getLong(1) == (if (k >= 5) k * 100 else k), s"row $r")
    }
  }

  test("duplicate source keys fail like Delta's multiple-source-rows " +
    "error; unsupported shapes fail loudly; DML on a pinned snapshot " +
    "is rejected") {
    val cat = freshCatalog("err")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(10)")
    spark.sql("SELECT id AS k, id AS v FROM range(3) " +
      "UNION ALL SELECT 1, 99").createOrReplaceTempView("w143_dup_src")
    val dup = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.t t USING w143_dup_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(dup.getMessage.contains("duplicate"),
      s"expected the duplicate-key error, got: ${dup.getMessage}")
    spark.range(3).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("w143_err_src")
    // WHEN MATCHED DELETE became legal in round 11 (general merge);
    // the still-illegal shape is a non-keyed ON condition
    val del = intercept[UnsupportedOperationException] {
      spark.sql(
        s"""MERGE INTO $cat.t t USING w143_err_src s
           |ON t.k = s.k AND t.v > 0
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(del.getMessage.contains("ON"),
      s"non-keyed ON must fail loudly: ${del.getMessage}")
  }

  test("UPDATE on a foreign (non-manifest) table is left to Spark's " +
    "built-in planning — the strategy must not swallow it") {
    bridge.addStrategy(spark, ManifestDmlStrategy)
    spark.range(5).selectExpr("id AS k")
      .createOrReplaceTempView("w143_foreign")
    val e = intercept[Exception] {
      spark.sql("UPDATE w143_foreign SET k = 0 WHERE k = 1")
    }
    assert(!e.getMessage.contains("graft"),
      s"strategy leaked onto a foreign table: ${e.getMessage}")
  }
}
