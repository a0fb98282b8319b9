package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import graft.sources.{ManifestRelation, ManifestRuntimeScan, ManifestScanBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{CollatedEqualTo, EqualTo, Filter, GreaterThanOrEqual, In, LessThanOrEqual}

/** Round-10 wave 142: the DataSourceV2 + catalog surface (r9-VERDICT
  * task 1). Claims proven here:
  *
  *  - full SQL lifecycle through the `TableCatalog` plugin: CREATE
  *    NAMESPACE / CREATE TABLE … USING `graft-manifest` / INSERT INTO /
  *    SELECT / INSERT OVERWRITE / ALTER TABLE column DDL / DROP TABLE
  *  - `VERSION AS OF` and `TIMESTAMP AS OF` resolve through the log
  *  - one admission rule: the V1 relation, the V2 runtime scan and
  *    `readPruned` admit the same file set under long, string,
  *    double, IN and bloom-equality filters (the file-skipping claim,
  *    unit-assertable)
  *  - SQL `DELETE FROM … WHERE` (SupportsDelete → deleteWhereCoW)
  *    rewrites ONLY the band-admitted files
  *  - `spark.read.format("graft-manifest-v2")` resolves by short name
  */
class Wave142Spec extends SparkSpec {

  private def freshCatalog(tag: String): String = {
    val wh = Files.createTempDirectory(s"graft_w142_$tag")
    val cat = s"w142$tag"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    cat
  }

  test("SQL lifecycle: CREATE NAMESPACE + CREATE TABLE + INSERT INTO " +
    "+ SELECT + time travel + INSERT OVERWRITE + DROP") {
    val cat = freshCatalog("life")
    spark.sql(s"CREATE NAMESPACE $cat.sales")
    spark.sql(s"CREATE TABLE $cat.sales.orders (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.sql(s"INSERT INTO $cat.sales.orders " +
      "SELECT id, id * 2 FROM range(0, 50)")
    spark.sql(s"INSERT INTO $cat.sales.orders " +
      "SELECT id, id * 2 FROM range(50, 100)")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.sales.orders")
      .head.getLong(0) == 100L)
    assert(spark.sql(
      s"SELECT sum(v) s FROM $cat.sales.orders WHERE k < 10")
      .head.getLong(0) == (0L until 10L).map(_ * 2).sum)
    // VERSION AS OF: v2 is the first insert (v1 = the CREATE commit)
    assert(spark.sql(
      s"SELECT count(*) c FROM $cat.sales.orders VERSION AS OF 2")
      .head.getLong(0) == 50L)
    // TIMESTAMP AS OF: the recorded commit time of v2, via SQL
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val root = java.nio.file.Paths.get(wh, "sales", "orders")
    val t2 = ManifestTable.commitTime(root, 2)
    val asOf = java.time.Instant.ofEpochMilli(t2).toString
      .replace("T", " ").replace("Z", "")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.sales.orders " +
      s"TIMESTAMP AS OF '$asOf'").head.getLong(0) == 50L)
    // written entries carry the property-declared stats
    val es = ManifestTable.entriesFor(root,
      ManifestTable.latestVersion(root))
    assert(es.nonEmpty && es.forall(_.band("k").isDefined),
      s"INSERT INTO dropped the statsColumns property: $es")
    // INSERT OVERWRITE replaces the live set in one commit
    spark.sql(s"INSERT OVERWRITE $cat.sales.orders " +
      "SELECT id, id FROM range(7)")
    assert(spark.sql(s"SELECT count(*) c, sum(v) s FROM $cat.sales.orders")
      .head match { case r => r.getLong(0) == 7L && r.getLong(1) == 21L })
    assert(spark.sql(s"SHOW TABLES IN $cat.sales").count() == 1)
    spark.sql(s"DROP TABLE $cat.sales.orders")
    assert(spark.sql(s"SHOW TABLES IN $cat.sales").count() == 0)
  }

  test("one admission rule: the V1 relation, the V2 runtime scan and " +
    "readPruned admit the same files under long, string, double, IN " +
    "and bloom-equality filters") {
    val root = Files.createTempDirectory("graft_w142_admit")
    // 8 k-range-laid files; u scatters across all of them (its band
    // spans the domain everywhere, so only the bloom can skip on it)
    val df = spark.range(4000).select(col("id").as("k"),
      format_string("s%04d", col("id")).as("s"),
      (col("id") * 0.5).as("d"),
      ((col("id") * 2654435761L) % 1000L).as("u"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(8, col("k")), root, "base",
      Seq("k", "u"), Seq("s"), Seq("d")))
    ManifestTable.buildBloomIndex(spark, root, df.schema, "u")
    val v = ManifestTable.latestVersion(root)
    val all = ManifestTable.filesFor(root, v).toSet
    assert(all.size == 8, s"fixture live set: $all")
    def name(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val cases: Seq[(String, Array[Filter], org.apache.spark.sql.Column)] =
      Seq(
        ("long", Array(GreaterThanOrEqual("k", 1000L),
          LessThanOrEqual("k", 1500L)), col("k").between(1000L, 1500L)),
        ("string", Array(GreaterThanOrEqual("s", "s2000"),
          LessThanOrEqual("s", "s2400")), col("s").between("s2000", "s2400")),
        ("double", Array(GreaterThanOrEqual("d", 100.0),
          LessThanOrEqual("d", 300.0)), col("d").between(100.0, 300.0)),
        // the V1 relation admitted every file for an IN set until it
        // shared the V2 scan's admission
        ("IN", Array(In("k", Array(10L, 3900L))), col("k").isin(10L, 3900L)),
        ("bloom", Array(EqualTo("u", 7L)), col("u") === 7L))
    cases.foreach { case (kind, fs, exact) =>
      val v1 = new ManifestRelation(spark.sqlContext, root, v, df.schema)
        .admittedEntries(fs).map(_.path).toSet
      val b = new ManifestScanBuilder(spark.sqlContext, root, v, df.schema)
      assert(b.pushFilters(fs).toSeq == fs.toSeq,
        "every filter must come back residual (superset admit)")
      val v2 = b.build().asInstanceOf[ManifestRuntimeScan]
        .admittedEntries.map(_.path).toSet
      val pruned = ManifestTable.readPruned(spark, root, v, df.schema, fs)
      val lib = pruned.inputFiles.map(name).toSet
      assert(v1 == v2 && v2 == lib,
        s"$kind: V1 admitted $v1, V2 $v2, readPruned $lib")
      assert(v2.nonEmpty && v2.size < all.size,
        s"$kind: admitted ${v2.size} of ${all.size} files")
      val want = df.filter(exact).count()
      assert(want > 0 && pruned.count() == want,
        s"$kind: readPruned is not row-exact")
    }
  }

  test("readPruned refuses a filter it cannot re-apply row-exactly") {
    val root = Files.createTempDirectory("graft_w142_refuse")
    val df = spark.range(10).select(col("id").as("k"),
      format_string("s%d", col("id")).as("s"))
    ManifestTable.commit(root, ManifestTable.stage(df, root,
      "base", Seq("k")))
    // a collated comparison has no Column form here: dropping it would
    // return every admitted row
    val collated = CollatedEqualTo("s", "S1",
      org.apache.spark.sql.types.StringType("UTF8_LCASE"))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.readPruned(spark, root, 1, df.schema, Seq(collated))
    }
    assert(e.getMessage.contains("row-exactly"), e.getMessage)
  }

  test("the V2 scan's SQL result is row-exact and column-pruned") {
    val cat = freshCatalog("prune")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    // 4 range-laid files, so a narrow band must skip most of them
    spark.range(400).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k"))
      .createOrReplaceTempView("w142_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM w142_src")
    // row exactness through the executed SQL path
    val got = spark.sql(
      s"SELECT k, v FROM $cat.t WHERE k BETWEEN 100 AND 150 ORDER BY k")
      .collect()
    assert(got.length == 51 && got.head.getLong(0) == 100L &&
      got.last.getLong(1) == 450L)
    // column pruning reaches the bridge: a 1-column projection plans
    val one = spark.sql(s"SELECT v FROM $cat.t WHERE k = 42").collect()
    assert(one.toSeq.map(_.getLong(0)) == Seq(126L))
    // count(*) prunes every column
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      == 400L)
  }

  test("SQL DELETE FROM rewrites only the band-admitted files " +
    "(copy-on-write through SupportsDelete)") {
    val cat = freshCatalog("del")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.range(400).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("k"))
      .createOrReplaceTempView("w142_dsrc")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM w142_dsrc")
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val root = java.nio.file.Paths.get(wh, "t")
    val before = ManifestTable.filesFor(root,
      ManifestTable.latestVersion(root))
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 100 AND k <= 150")
    val vAfter = ManifestTable.latestVersion(root)
    val after = ManifestTable.filesFor(root, vAfter)
    // untouched files survive VERBATIM (same physical names)
    val survivors = before.toSet.intersect(after.toSet)
    assert(survivors.nonEmpty && survivors.size >= before.size - 2,
      s"DELETE rewrote ${before.size - survivors.size} of ${before.size}" +
      " files for a one-band predicate")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.t").head.getLong(0)
      == 400L - 51L)
    assert(spark.sql(
      s"SELECT count(*) c FROM $cat.t WHERE k BETWEEN 100 AND 150")
      .head.getLong(0) == 0L)
    // SQL-null semantics: rows where the predicate is NULL are kept
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    spark.sql(s"DELETE FROM $cat.t WHERE note = 'x'")
    assert(spark.sql(s"SELECT count(*) c FROM $cat.t").head.getLong(0)
      == 400L - 51L, "DELETE removed rows with a NULL predicate")
  }

  test("ALTER TABLE column DDL maps onto the metadata-only evolution " +
    "commits") {
    val cat = freshCatalog("ddl")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "USING `graft-manifest`")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id * 2 FROM range(10)")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO val")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "val"))
    assert(spark.sql(s"SELECT sum(val) s FROM $cat.t").head.getLong(0)
      == 90L, "renamed column null-filled")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "val", "note"))
    // pre-ADD files null-fill; post-ADD inserts carry the column
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 200, 'late')")
    val notes = spark.sql(
      s"SELECT note FROM $cat.t WHERE note IS NOT NULL").collect()
    assert(notes.toSeq.map(_.getString(0)) == Seq("late"))
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN note")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "val"))
  }

  test("spark.read.format(\"graft-manifest-v2\") resolves by short " +
    "name with version pinning") {
    val root = Files.createTempDirectory("graft_w142_fmt")
    val df = spark.range(20).select(col("id").as("k"))
    df.filter(col("k") < 10).write.format("graft-manifest")
      .option("path", root.toString).mode("append").save()
    df.filter(col("k") >= 10).write.format("graft-manifest")
      .option("path", root.toString).mode("append").save()
    assert(spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load().count() == 20L)
    assert(spark.read.format("graft-manifest-v2")
      .option("path", root.toString).option("version", "1")
      .load().count() == 10L)
  }
}
