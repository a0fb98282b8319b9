package graft

import java.nio.file.{Files, Path}

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-10 wave 146: ROW-POSITION deletion vectors (r9-VERDICT task
  * 5 — the key-scoped form's declared granularity gap). Claims proven
  * here:
  *
  *  - deleting ONE of two fully identical rows in ONE file — the
  *    state that is impossible for both the key form (dv=) and the
  *    key-scoped form (dvp=), demonstrated by contrast
  *  - readMORPositional ≡ readMORScoped on unique-key tables given
  *    the same delete set
  *  - the sidecar is (src, pos) longs — size recorded vs the scoped
  *    (key, src) form
  *  - rewrite paths fail loudly while row vectors are outstanding;
  *    compactMORPositional materializes, clears, and re-admits
  *    rewrites; vacuum keeps referenced row-DV sidecars
  *  - the registered V1 source reads the subtracted view (dvr branch)
  */
class Wave146Spec extends SparkSpec {

  private def fresh(tag: String): Path = {
    val root = Files.createTempDirectory(s"graft_w146_$tag").resolve("t")
    Files.createDirectories(root)
    root
  }

  test("exactly one of two identical rows in one file dies; key-based " +
    "and key-scoped deletes cannot express that state") {
    val root = fresh("dup")
    // one file holding the SAME (k=5, v=50) row twice
    val df = spark.range(2).selectExpr("5L AS k", "50L AS v")
      .unionByName(spark.range(10).selectExpr("id AS k", "id * 10 AS v")
        .filter(col("k") =!= 5))
      .coalesce(1)
    val rel = ManifestTable.stage(df, root, "a")
    require(rel.size == 1)
    ManifestTable.commit(root, rel)
    // kill row-position 0 of that file (one of the two k=5 copies)
    val schema = df.schema
    val withPos = spark.read.schema(schema)
      .parquet(root.resolve("data").resolve(rel.head).toString)
      .withColumn("pos", col("_metadata.row_index"))
    val target = withPos.filter(col("k") === 5).agg(min("pos")).head.getLong(0)
    ManifestTable.deleteMORPositional(spark, root,
      spark.range(1).select(lit(rel.head).as("src"), lit(target).as("pos")))
    val got = ManifestTable.readMORPositional(spark, root,
      ManifestTable.latestVersion(root), schema)
    assert(got.filter(col("k") === 5).count() == 1,
      "exactly one of the two identical rows must survive")
    assert(got.count() == 10, s"total rows: ${got.count()}")
    // the contrast: a key-scoped delete of k=5 kills BOTH copies (the
    // sidecar matches (key, file), and both copies share both)
    val root2 = fresh("dup2")
    val rel2 = ManifestTable.stage(df, root2, "a")
    ManifestTable.commit(root2, rel2)
    ManifestTable.deleteMORScoped(spark, root2,
      spark.range(1).selectExpr("5L AS k"), "k", schema)
    assert(ManifestTable.readMORScoped(spark, root2,
        ManifestTable.latestVersion(root2), schema, "k")
      .filter(col("k") === 5).count() == 0,
      "the key-scoped form kills every same-key copy in the file")
  }

  test("readMORPositional == readMORScoped on a unique-key table for " +
    "the same delete set; sidecar sizes recorded") {
    val rootP = fresh("eqP")
    val rootS = fresh("eqS")
    val df = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v")
      .repartitionByRange(4, col("k"))
    Seq(rootP, rootS).foreach { r =>
      ManifestTable.commit(r,
        ManifestTable.stage(df, r, "base", Seq("k")))
    }
    val schema = df.schema
    // positional: resolve k % 13 == 0 to (src, pos) by provenance scan
    ManifestTable.deleteWhereMORPositional(spark, rootP, schema,
      col("k") % 13 === 0)
    // scoped: the same keys
    ManifestTable.deleteMORScoped(spark, rootS,
      spark.range(0, 1000).filter(col("id") % 13 === 0)
        .selectExpr("id AS k"), "k", schema)
    val gotP = ManifestTable.readMORPositional(spark, rootP,
      ManifestTable.latestVersion(rootP), schema).orderBy("k").collect()
    val gotS = ManifestTable.readMORScoped(spark, rootS,
      ManifestTable.latestVersion(rootS), schema, "k").orderBy("k").collect()
    assert(gotP.toSeq == gotS.toSeq,
      "positional and scoped deletes diverge on a unique-key table")
    def sidecarBytes(r: Path, names: Seq[String]): Long =
      names.map(n => Files.size(r.resolve("data").resolve(n))).sum
    val pB = sidecarBytes(rootP,
      ManifestTable.rowDvsFor(rootP, ManifestTable.latestVersion(rootP)))
    val sB = sidecarBytes(rootS,
      ManifestTable.scopedDvsFor(rootS, ManifestTable.latestVersion(rootS)))
    info(s"sidecar bytes: positional=$pB scoped=$sB")
    assert(pB > 0 && sB > 0)
  }

  test("rewrites fail loudly while row vectors are outstanding; " +
    "compactMORPositional clears them and re-admits rewrites") {
    val root = fresh("guard")
    val df = spark.range(0, 100).selectExpr("id AS k", "id AS v")
      .repartitionByRange(2, col("k"))
    ManifestTable.commit(root,
      ManifestTable.stage(df, root, "base", Seq("k")))
    ManifestTable.deleteWhereMORPositional(spark, root, df.schema,
      col("k") % 10 === 0)
    val v = ManifestTable.latestVersion(root)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, root, v, df.schema, 1)
    }
    assert(e.getMessage.contains("row-position"),
      s"rewrite must name the row-DV guard: ${e.getMessage}")
    intercept[IllegalArgumentException] {
      ManifestTable.readPruned(spark, root, v, df.schema,
        between(("k", 0L, 50L)))
    }
    val v2 = ManifestTable.compactMORPositional(spark, root, v,
      df.schema, "k", 2)
    assert(ManifestTable.rowDvsFor(root, v2).isEmpty)
    val got = ManifestTable.read(spark, root, v2, df.schema)
    assert(got.count() == 90 &&
      got.filter(col("k") % 10 === 0).count() == 0)
    // rewrites work again
    ManifestTable.compact(spark, root, v2, df.schema, 1)
    // and the vectors stayed inherited until the compact cleared them:
    // an append BETWEEN delete and compact must keep subtracting
    val root2 = fresh("inherit")
    ManifestTable.commit(root2,
      ManifestTable.stage(df, root2, "base", Seq("k")))
    ManifestTable.deleteWhereMORPositional(spark, root2, df.schema,
      col("k") < 10)
    ManifestTable.appendCommit(root2, ManifestTable.stage(
      spark.range(200, 210).selectExpr("id AS k", "id AS v"), root2, "ap"))
    val got2 = ManifestTable.readMORPositional(spark, root2,
      ManifestTable.latestVersion(root2), df.schema)
    assert(got2.count() == 100,
      s"append must inherit dvr= (90 survivors + 10 new): ${got2.count()}")
  }

  test("the registered V1 source reads the positional-subtracted view") {
    val dir = sfDir
    val root = graft.operators.ManifestOps.morPositionalRoot(spark, dir)
    val orders = Tables.table(spark, dir, "orders")
    val viaSource = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    val direct = ManifestTable.readMORPositional(spark, root, 3,
      orders.schema)
    assert(viaSource.orderBy("o_orderkey").collect().toSeq ==
      direct.orderBy("o_orderkey").collect().toSeq,
      "the source's dvr branch diverged from readMORPositional")
    // duplicates outside %3 survive next to their identical originals
    val dupSurvivors = direct.groupBy("o_orderkey").count()
      .filter(col("count") === 2).count()
    val expect = orders.filter(col("o_orderkey") % 7 === 0 &&
      col("o_orderkey") % 3 =!= 0).count()
    assert(dupSurvivors == expect,
      s"surviving duplicate keys $dupSurvivors != $expect")
  }
}
