package graft

import java.nio.file.{Files, Path}

import graft.operators.{ManifestOps, ManifestTable}
import graft.operators.ManifestTable.{BucketTransform, DaysTransform, TruncateTransform}
import org.apache.spark.sql.functions._

/** Round-10 wave 147: HIDDEN PARTITIONING (r9-VERDICT task 6 —
  * bucket/truncate/days transforms recorded in manifest meta, pruned
  * at plan time). Claims proven here:
  *
  *  - an equality predicate on a bucket-laid column admits a small
  *    fraction of the files THROUGH THE TRANSFORM ALONE (the table
  *    carries no plain stats for that column) — counter-asserted via
  *    the source's admittedEntries hook, result row-exact
  *  - a RANGE over a bucket column derives nothing (hash is not
  *    monotone) and must admit everything — no false prune
  *  - truncate and days are monotone: range bands map through
  *  - the Spark-side transform expression and the driver-side literal
  *    transform agree value-for-value (the soundness link derivation
  *    rests on)
  *  - ptrans meta survives appends (inherited like schema/colmap);
  *    appended files without virtual stats are admitted
  *    unconditionally — still correct, just less prunable
  */
class Wave147Spec extends SparkSpec {

  private def fresh(tag: String): Path = {
    val root = Files.createTempDirectory(s"graft_w147_$tag").resolve("t")
    Files.createDirectories(root)
    root
  }

  test("spark-side and driver-side transforms agree value-for-value") {
    val b = BucketTransform(16, "v")
    val t = TruncateTransform(1000, "v")
    val d = DaysTransform("v")
    val df = spark.range(-5000, 5000, 37).selectExpr("id * 997 AS v")
      .withColumn("b", b.exprCol).withColumn("t", t.exprCol)
      .withColumn("d", d.exprCol)
    df.collect().foreach { r =>
      val v = r.getLong(0)
      assert(r.getLong(1) == b.ofLiteral(v), s"bucket($v)")
      assert(r.getLong(2) == t.ofLiteral(v), s"truncate($v)")
      assert(r.getLong(3) == d.ofLiteral(v), s"days($v)")
    }
  }

  test("bucket equality prunes through the transform alone; a range " +
    "over the bucket column admits everything (no false prune)") {
    val root = fresh("bkt")
    val df = spark.range(0, 4000).selectExpr("id AS k", "id * 7 AS c")
    val ts = Seq(BucketTransform(16, "c"))
    ManifestTable.commit(root,
      ManifestTable.stageHidden(df, root, "base", ts, files = 16),
      ManifestTable.transformsMeta(ts))
    val v = ManifestTable.latestVersion(root)
    val total = ManifestTable.entriesFor(root, v).size
    assert(total >= 8, s"fixture too small: $total files")
    val target = 777L * 7L
    val hb = ManifestTable.hiddenBands(root, v, Seq(("c", target, target)))
    assert(hb.size == 1 && hb.head._1 == "__ptb16_c")
    val (hit, _, _) = ManifestTable.prunedEntries(root, v,
      Seq(("c", target, target)) ++ hb, Nil)
    assert(hit.size <= total / 4,
      s"bucket equality admitted ${hit.size}/$total files")
    val got = ManifestTable.readPruned(spark, root, v, df.schema,
      between(("c", target, target))).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(777L),
      s"pruned read wrong: ${got.mkString(",")}")
    // a RANGE over the bucket column derives nothing
    assert(ManifestTable.hiddenBands(root, v,
      Seq(("c", 0L, 100L))).isEmpty)
    val rangeGot = ManifestTable.readPruned(spark, root, v,
      df.schema, between(("c", 0L, 700L))).orderBy("k").collect()
    assert(rangeGot.map(_.getLong(0)).toSeq == (0L to 100L),
      "range over a bucket column must stay exact (admit-all)")
  }

  test("truncate and days derive range bands that prune") {
    val root = fresh("mono")
    val day = 86400000000L
    val df = spark.range(0, 2000).selectExpr("id AS k",
      s"id * ${day / 4} AS ts") // 4 rows per day, 500 days (BIGINT —
      // SQL `/` would type ts DOUBLE, which stageHidden now rejects)
    val ts = Seq(DaysTransform("ts"), TruncateTransform(100, "k"))
    ManifestTable.commit(root,
      ManifestTable.stageHidden(df, root, "base", ts, files = 20),
      ManifestTable.transformsMeta(ts))
    val v = ManifestTable.latestVersion(root)
    val total = ManifestTable.entriesFor(root, v).size
    // one-day band on ts: derives __ptd_ts [100, 100]
    val preds = Seq(("ts", 100L * day, 100L * day + day - 1))
    val hb = ManifestTable.hiddenBands(root, v, preds)
    assert(hb.contains(("__ptd_ts", 100L, 100L)), s"derived: $hb")
    val (hit, _, _) = ManifestTable.prunedEntries(root, v,
      preds ++ hb, Nil)
    assert(hit.size <= math.max(1, total / 5),
      s"day band admitted ${hit.size}/$total files")
    val got = ManifestTable.readPruned(spark, root, v, df.schema,
      between(preds: _*)).orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq == (400L to 403L),
      s"day-band read wrong: ${got.map(_.getLong(0)).mkString(",")}")
  }

  test("the registered source derives transform bands from pushed " +
    "filters; ptrans survives appends; stat-less appended files are " +
    "always admitted") {
    val dir = sfDir
    val root = ManifestOps.hiddenRoot(spark, dir)
    val orders = Tables.table(spark, dir, "orders")
    val ck = orders.agg(min("o_custkey")).head().getLong(0)
    import graft.sources.ManifestRelation
    import org.apache.spark.sql.sources.EqualTo
    val rel = new ManifestRelation(spark.sqlContext, root,
      ManifestTable.latestVersion(root), orders.schema)
    val total = ManifestTable.entriesFor(root,
      ManifestTable.latestVersion(root)).size
    val admitted = rel.admittedEntries(Array(EqualTo("o_custkey", ck)))
    assert(admitted.size <= math.max(1, total / 4),
      s"source admitted ${admitted.size}/$total files for the bucket key")
    // append WITHOUT the transform layout — on a FRESH table (the
    // lifecycle root above is a shared cached artifact; mutating it
    // would poison the declared query's oracle): ptrans meta must
    // survive, and the new stat-less file must be admitted
    val root2 = fresh("ap")
    val df = spark.range(0, 1000).selectExpr("id AS k", "id * 7 AS c")
    val ts2 = Seq(BucketTransform(16, "c"))
    ManifestTable.commit(root2,
      ManifestTable.stageHidden(df, root2, "base", ts2, files = 8),
      ManifestTable.transformsMeta(ts2))
    val base2 = new ManifestRelation(spark.sqlContext, root2,
      ManifestTable.latestVersion(root2), df.schema)
      .admittedEntries(Array(EqualTo("c", 777L * 7L)))
    ManifestTable.appendCommit(root2, ManifestTable.stage(
      spark.range(1).selectExpr("-1L AS k", "-12345L AS c").coalesce(1),
      root2, "w147ap"))
    val v2 = ManifestTable.latestVersion(root2)
    assert(ManifestTable.partTransforms(root2, v2).nonEmpty,
      "ptrans meta lost across an append")
    val admitted2 = new ManifestRelation(spark.sqlContext, root2, v2,
      df.schema).admittedEntries(Array(EqualTo("c", 777L * 7L)))
    assert(admitted2.size == base2.size + 1,
      s"stat-less appended file must be admitted: ${admitted2.size}" +
      s" vs ${base2.size}")
    // row-exactness through the source, append included
    val got = spark.read.format("graft-manifest")
      .option("path", root2.toString).load()
      .filter(col("c") === -12345L)
    assert(got.count() == 1)
  }
}
