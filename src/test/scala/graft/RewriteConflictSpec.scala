package graft

import java.nio.file.{Files, Path}

import graft.operators.ManifestTable
import graft.operators.ManifestTable.TruncateTransform
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one publish-time conflict rule of the copy-on-write rewrites
  * (`publishRewrite`): a stale compaction composes with an append
  * instead of dropping it, a compaction that would clear a later
  * deletion vector aborts, a rewrite over a later scoped vector is
  * refused, a refused rewrite (a replaceWhere's insert half too)
  * deletes the files it staged, and `compact` keeps the stats coverage
  * it rewrites.
  */
class RewriteConflictSpec extends SparkSpec {

  private def tinyTable(): (Path, DataFrame) = {
    val root = Files.createTempDirectory("graft_rwc")
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    assert(ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k"))) == 1)
    (root, df)
  }

  private def sig(df: DataFrame) =
    df.agg(count(lit(1)), sum("k"), sum("v")).head()

  private def dataFiles(root: Path): Seq[String] = {
    val s = Files.list(root.resolve("data"))
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString)
    finally s.close()
  }

  test("a compaction of v1 after an append at v2 keeps the appended rows") {
    val (root, df) = tinyTable()
    val late = spark.range(100, 110).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    assert(ManifestTable.appendCommit(root, ManifestTable.stage(
      late.coalesce(1), root, "late", Seq("k"))) == 2)
    val v3 = ManifestTable.compact(spark, root, 1, df.schema, 1)
    assert(v3 == 3)
    assert(sig(ManifestTable.read(spark, root, v3, df.schema)) ==
      sig(df.unionByName(late)), "the append at v2 was lost")
  }

  test("a compactMOR of v2 aborts when v3 added a deletion vector") {
    val (root, df) = tinyTable()
    assert(ManifestTable.deleteMOR(root,
      df.filter(col("k") < 10).select("k")) == 2)
    assert(ManifestTable.deleteMOR(root,
      df.filter(col("k") >= 90).select("k")) == 3)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.compactMOR(spark, root, 2, df.schema, "k", 1)
    }
    assert(ManifestTable.latestVersion(root) == 3)
    assert(ManifestTable.readMOR(spark, root, 3, df.schema, "k")
      .filter(col("k") >= 90 || col("k") < 10).isEmpty)
  }

  test("a mergeCoW of v1 is refused when v2 holds scoped vectors, and " +
    "no deleted row comes back") {
    val (root, df) = tinyTable()
    assert(ManifestTable.deleteMORScoped(spark, root,
      df.filter(col("k") % 10 === 0).select("k"), "k", df.schema) == 2)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.mergeCoW(spark, root, 1, df.schema, "k", 0, 9)(
        _.withColumn("v", col("v") + 1))
    }
    val latest = ManifestTable.latestVersion(root)
    assert(latest == 2)
    assert(ManifestTable.readMORScoped(spark, root, latest, df.schema, "k")
      .filter(col("k") % 10 === 0).isEmpty, "deleted rows came back")
  }

  test("a merge refused by an in-band append deletes the files it staged") {
    val (root, df) = tinyTable()
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(40, 50).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1), root, "inband", Seq("k")))
    val before = dataFiles(root).toSet
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.mergeCoW(spark, root, 1, df.schema, "k", 40, 49)(
        _.withColumn("v", col("v") + 1))
    }
    val left = dataFiles(root).filter(_.startsWith("merge1-"))
    assert(left.isEmpty, s"the refused merge left its files: $left")
    assert(dataFiles(root).toSet == before)
  }

  test("a replaceWhere refused by a rewrite after its snapshot deletes " +
    "its insert files") {
    val (root, df) = tinyTable()
    val victim = ManifestTable.entriesFor(root, 1)
      .filter(_.mayContain("k", 10, 19)).map(_.path)
    assert(victim.nonEmpty)
    // the first row the predicate sees (the staged-rows check, after
    // replaceWhere has pinned v1) lands a rewrite of its read set
    RewriteConflictSpec.onFirstRow.set(() =>
      ManifestTable.commitOps(root, Nil, victim): Unit)
    val inBand = udf(() => RewriteConflictSpec.fire()).asNondeterministic()
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.replaceWhereCoW(spark, root, df.schema,
        inBand() && col("k").between(10, 19),
        spark.range(10, 20).select(col("id").as("k"), lit(-1L).as("v")),
        statsCols = Seq("k"), longBands = Seq(("k", 10L, 19L)))
    }
    assert(ManifestTable.latestVersion(root) == 2)
    val left = dataFiles(root).filter(f => f.startsWith("rwi") ||
      f.startsWith("rws"))
    assert(left.isEmpty, s"the refused replaceWhere left its files: $left")
  }

  test("compact keeps every entry's stats columns, __pt* included, and " +
    "a pruned read stays row-exact") {
    val root = Files.createTempDirectory("graft_rwc_stats")
    val ts = Seq(TruncateTransform(25, "k"))
    val df = spark.range(200).select(col("id").as("k"),
      (col("id") * 3).as("v"), concat(lit("s"), col("id")).as("s"))
    val v1 = ManifestTable.commit(root, ManifestTable.stageHidden(df, root,
      "h", ts, files = 4, statsCols = Seq("k", "v"), strCols = Seq("s")),
      ManifestTable.transformsMeta(ts))
    def names(v: Int) = ManifestTable.entriesFor(root, v).map(e =>
      (e.stats.map(_._1).toSet, e.strStats.map(_._1).toSet)).toSet
    assert(names(v1) == Set((Set("k", "v", "__ptt25_k"), Set("s"))))
    val v2 = ManifestTable.compact(spark, root, v1, df.schema, 2)
    assert(names(v2) == names(v1), s"compact narrowed stats: ${names(v2)}")
    // an open lower bound keeps the derived band open, not wrapped
    assert(ts.head.bandOf(Long.MinValue, 60L) == Some((Long.MinValue, 50L)))
    val pruned = ManifestTable.readPruned(spark, root, v2, df.schema,
      between(("k", 30L, 60L)))
    assert(pruned.collect().toSet ==
      df.filter(col("k").between(30, 60)).collect().toSet)
  }
}

object RewriteConflictSpec {
  /** Runs once, on the first call of [[fire]], then resets. */
  val onFirstRow =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](null)

  def fire(): Boolean = {
    val f = onFirstRow.getAndSet(null)
    if (f != null) f()
    true
  }
}
