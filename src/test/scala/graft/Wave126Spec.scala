package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import graft.sources.ManifestRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}

/** Round-9 wave 126: the manifest format as a REGISTERED Spark data
  * source — `spark.read.format("graft-manifest")` resolves via
  * META-INF/services, honors version/asof pins, derives schema from
  * the header meta or footers, applies outstanding deletion vectors
  * (a reader must never resurrect deletes), and pushes filters into
  * per-file stats as FILE SKIPPING.
  */
class Wave126Spec extends SparkSpec {

  private def table() = {
    val root = Files.createTempDirectory("graft_src_v1api")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    assert(v1 == 1)
    (root, df)
  }

  test("format(\"graft-manifest\") resolves by short name and the " +
    "loaded frame equals the library read — latest, version pin, asof") {
    val (root, df) = table()
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(100, 120).select(col("id").as("k"), (col("id") * 3).as("v"))
        .coalesce(1), root, "late"))
    def load(opts: (String, String)*) = {
      val r = spark.read.format("graft-manifest").option("path", root.toString)
      opts.foldLeft(r) { case (b, (k, x)) => b.option(k, x) }.load()
    }
    assert(load().count() == 120)
    assert(load("version" -> "1").count() == 100)
    val t1 = ManifestTable.commitTime(root, 1)
    val t2 = ManifestTable.commitTime(root, 2)
    if (t1 < t2) // same-ms commits make the pin ambiguous — skip then
      assert(load("asof" -> t1.toString).count() == 100)
    assert(load("asof" -> t2.toString).count() == 120)
    // value equality, not just counts
    val got = load("version" -> "1").orderBy("k")
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty)
    assert(got.schema.fieldNames.toSeq == Seq("k", "v"),
      "footer-derived schema mismatch")
  }

  test("pushed filters skip files through the per-file stats; rows " +
    "stay exact because Spark re-applies every filter") {
    val (root, _) = table()
    val rel = new ManifestRelation(spark.sqlContext, root, 1,
      spark.read.format("graft-manifest").option("path", root.toString)
        .load().schema)
    val all = rel.admittedEntries(Array.empty)
    assert(all.size == 4)
    // k >= 80 lives in the last range file only
    val hi = rel.admittedEntries(Array(GreaterThanOrEqual("k", 80L)))
    assert(hi.size < all.size && hi.forall(_.mayContain("k", 80L, 99L)))
    // a conjunction intersects: k >= 30 AND k <= 40 admits ~1 file
    val band = rel.admittedEntries(
      Array(And(GreaterThanOrEqual("k", 30L), LessThanOrEqual("k", 40L))))
    assert(band.size <= 2, s"band admitted ${band.size} of 4")
    // a filter on an unstat'd column admits everything (conservative)
    assert(rel.admittedEntries(
      Array(GreaterThanOrEqual("v", 0L))).size == 4)
    // end-to-end row exactness through the public read path
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("k") >= 30 && col("k") <= 40)
    assert(got.count() == 11)
  }

  test("a DV-carrying table read through spark.read subtracts the " +
    "vectors — the source never resurrects deleted rows") {
    val (root, df) = table()
    ManifestTable.deleteMOR(root, df.filter(col("k") % 10 === 0)
      .select("k"))
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    assert(got.count() == 90)
    assert(got.filter(col("k") % 10 === 0).count() == 0,
      "deleted keys resurrected through the source API")
    // column pruning composes with the MOR subtract
    assert(got.select("v").count() == 90)
  }

  test("the WRITE path maps save modes onto the commit protocol: " +
    "append = O(delta) commit, overwrite = checkpoint replace, " +
    "errorIfExists honors existence, stats columns compose") {
    val root = Files.createTempDirectory("graft_src_write")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
    def w(d: org.apache.spark.sql.DataFrame) = d.write
      .format("graft-manifest").option("path", root.toString)
      .option("statsColumns", "k")
    w(df.repartitionByRange(4, col("k"))).mode("append").save()
    assert(ManifestTable.latestVersion(root) == 1)
    w(spark.range(100, 150).select(col("id").as("k"), (col("id") * 3).as("v"))
      .coalesce(1)).mode("append").save()
    val v2 = ManifestTable.latestVersion(root)
    assert(v2 == 2)
    // the append rode the delta log, and stats carried through
    assert(ManifestTable.headerMeta(root, 2).get("kind").contains("delta"))
    assert(ManifestTable.entriesFor(root, 2).forall(_.band("k").nonEmpty))
    // round-trip through the read path
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    assert(got.count() == 150)
    // the written stats drive file skipping on the read side
    val rel = new ManifestRelation(spark.sqlContext, root, 2, got.schema)
    assert(rel.admittedEntries(
      Array(GreaterThanOrEqual("k", 120L))).size <
      rel.admittedEntries(Array.empty).size)
    // overwrite replaces the live set with a checkpoint commit
    w(df.limit(10).coalesce(1)).mode("overwrite").save()
    assert(spark.read.format("graft-manifest")
      .option("path", root.toString).load().count() == 10)
    // pinned pre-overwrite snapshots still read (immutability)
    assert(spark.read.format("graft-manifest")
      .option("path", root.toString).option("version", v2.toString)
      .load().count() == 150)
    intercept[IllegalStateException] {
      w(df).mode("errorIfExists").save()
    }
  }

  test("schema= header meta (ADD COLUMN evolution) wins over footers") {
    val dir = "/root/testdata/sf0.001"
    val root = graft.operators.ManifestOps.evoRoot(spark, dir)
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    assert(got.schema.fieldNames.contains("o_orderpriority"),
      "evolved column missing — header schema not honored")
    // v1-era rows null-fill the evolved column, like readEvolved
    assert(got.filter(col("o_orderkey") % 2 === 0
      && col("o_orderpriority").isNotNull).count() == 0)
  }
}
