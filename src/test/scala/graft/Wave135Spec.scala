package graft

import java.nio.file.Files
import graft.operators.{ManifestOps, ManifestTable}
import graft.sources.ManifestRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** Round-9 wave 135: STRING filter pushdown through the registered
  * source — `spark.read.format("graft-manifest")` turns pushed string
  * equality/range/prefix predicates into file skipping via the
  * wave-132 string bounds, planning through the wave-133 manifest
  * list. Claims proven here: admitted-file counts per predicate shape
  * (incl. the prefix upper-bound edge), the write path's
  * statsStringColumns option composing with the read path, and the
  * declared query's physical skip.
  */
class Wave135Spec extends SparkSpec {

  private def table() = {
    val root = Files.createTempDirectory("graft_src_str")
    // 4 files range-laid by tag: [aa..ff], [gg..ll], [mm..ss], [tt..zz]
    val df = spark.range(260).select(col("id").as("k"),
      concat(expr("char(97 + id % 26)"),
        expr("char(97 + id % 26)")).as("tag"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("tag")), root, "base",
      Seq("k"), Seq("tag")))
    assert(v1 == 1)
    (root, df)
  }

  private def rel(root: java.nio.file.Path) =
    new ManifestRelation(spark.sqlContext, root, 1,
      spark.read.format("graft-manifest").option("path", root.toString)
        .load().schema)

  test("pushed string predicates admit only the band-intersecting " +
    "files: equality, range, and prefix shapes") {
    val (root, df) = table()
    val r = rel(root)
    val all = r.admittedEntries(Array.empty)
    assert(all.size == 4)
    val eq = r.admittedEntries(Array(EqualTo("tag", "mm")))
    assert(eq.size == 1 && eq.forall(_.mayContainStr("tag", "mm", "mm")),
      s"equality admitted ${eq.map(_.path)}")
    val ge = r.admittedEntries(Array(GreaterThanOrEqual("tag", "uu")))
    assert(ge.size == 1, s"open >= admitted ${ge.size} of 4")
    val lt = r.admittedEntries(Array(LessThan("tag", "cc")))
    assert(lt.size == 1, s"open < admitted ${lt.size} of 4")
    val band = r.admittedEntries(
      Array(And(GreaterThanOrEqual("tag", "hh"), LessThanOrEqual("tag", "kk"))))
    assert(band.size == 1, s"conjunction admitted ${band.size} of 4")
    val pre = r.admittedEntries(Array(StringStartsWith("tag", "g")))
    assert(pre.size == 1, s"prefix admitted ${pre.size} of 4")
    // prefix ending in U+FFFF has no finite upper bound — must fall
    // back to lower-bounded-only semantics (≡ >=), never crash; every
    // recorded tag sits below it, so both provably admit nothing
    val preMax = r.admittedEntries(Array(StringStartsWith("tag", "￿")))
    assert(preMax == r.admittedEntries(
      Array(GreaterThanOrEqual("tag", "￿"))) && preMax.isEmpty)
    // a string predicate on an unstat'd column admits everything
    assert(r.admittedEntries(Array(EqualTo("nosuch", "x"))).size == 4)
    // end-to-end row exactness through the public read path
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("tag") >= "hh" && col("tag") <= "kk")
    assert(got.count() == df.filter(col("tag").between("hh", "kk")).count())
  }

  test("the write path's statsStringColumns option records string " +
    "bounds that the read path's skipping then rides") {
    val root = Files.createTempDirectory("graft_src_strw")
    val df = spark.range(260).select(col("id").as("k"),
      concat(expr("char(97 + id % 26)"),
        expr("char(97 + id % 26)")).as("tag"))
    df.repartitionByRange(4, col("tag"))
      .write.format("graft-manifest").option("path", root.toString)
      .option("statsColumns", "k").option("statsStringColumns", "tag")
      .mode("append").save()
    val es = ManifestTable.entriesFor(root, 1)
    assert(es.size == 4 && es.forall(e =>
      e.band("k").isDefined && e.bandStr("tag").isDefined),
      s"written entries lack typed stats: $es")
    val r = rel(root)
    val eq = r.admittedEntries(Array(EqualTo("tag", "pp")))
    assert(eq.size == 1, s"written string stats did not skip: ${eq.size}")
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("tag") === "pp")
    assert(got.count() == df.filter(col("tag") === "pp").count())
  }

  test("the declared v1api string query physically skips files on the " +
    "brand equality") {
    val root = ManifestOps.strRoot(spark, sfDir)
    val v = ManifestTable.latestVersion(root)
    val r = new ManifestRelation(spark.sqlContext, root, v,
      spark.read.format("graft-manifest").option("path", root.toString)
        .load().schema)
    val all = r.admittedEntries(Array.empty)
    val eq = r.admittedEntries(Array(EqualTo("p_brand", "Brand#21")))
    assert(eq.nonEmpty && eq.size < all.size,
      s"brand equality admitted ${eq.size}/${all.size} — skipped nothing")
  }
}
