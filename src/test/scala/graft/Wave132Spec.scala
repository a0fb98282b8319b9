package graft

import java.nio.file.Files
import graft.operators.{ManifestOps, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-9 wave 132: TYPED (string) per-file stats — the "long-only
  * file stats (no string/binary bounds)" representational gap named
  * by FORMAT.md's at-scale summary. Claims proven here, not by the
  * oracle: string bounds survive the line encoding byte-exactly even
  * when the bound CONTAINS the format's own separators, string-band
  * prunes skip files physically (inputFiles), statless files are
  * admitted never skipped, and rewrite paths preserve string-stat
  * coverage like they preserve long stats.
  */
class Wave132Spec extends SparkSpec {

  test("string bounds round-trip the manifest line encoding even when " +
    "they contain colon, comma, tab, newline, and non-ASCII text") {
    val root = Files.createTempDirectory("graft_mf_strenc")
    val nasty = Seq("a:b", "c,d", "e\tf", "g\nh", "ü-umlaut", "plain")
    val df = spark.createDataFrame(
      nasty.zipWithIndex.map { case (s, i) => (i.toLong, s) })
      .toDF("k", "s")
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.coalesce(1), root, "base", Seq("k"), Seq("s")))
    val es = ManifestTable.entriesFor(root, v1)
    assert(es.size == 1)
    val e = es.head
    assert(e.band("k").contains((0L, 5L)))
    // Spark's min/max on the column vs the decoded band — byte-exact
    val mm = df.agg(min("s"), max("s")).head()
    assert(e.bandStr("s").contains((mm.getString(0), mm.getString(1))),
      s"string band ${e.bandStr("s")} != source (${mm.getString(0)}, " +
      s"${mm.getString(1)})")
  }

  test("a string-band prune scans only the admitted files, statless " +
    "files are admitted, and rows equal the full-scan filter") {
    val root = Files.createTempDirectory("graft_mf_strprune")
    // 26 groups aa..zz, range-laid by the string key into 8 files
    val df = spark.range(520).select(col("id").as("k"),
      concat(lit(""),
        // deterministic two-letter tag: 'a'+id%26 twice
        expr("char(97 + id % 26)"), expr("char(97 + id % 26)")).as("tag"),
      (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(8, col("tag")), root, "base",
      Seq("k"), Seq("tag")))
    // plus one STATLESS file: must always be admitted
    val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(520, 525).select(col("id").as("k"), lit("mm").as("tag"),
        (col("id") * 3).as("v")).coalesce(1), root, "nostats"))
    val entries = ManifestTable.entriesFor(root, v2)
    assert(entries.size == 9)
    assert(entries.count(_.bandStr("tag").isEmpty) == 1)
    val pruned = ManifestTable.readPruned(spark, root, v2, df.schema,
      between(("tag", "cc", "ff")))
    val admitted = entries.filter(_.mayContainStr("tag", "cc", "ff"))
      .map(_.path).toSet
    assert(pruned.inputFiles.map(_.split('/').last).toSet == admitted,
      s"scan read ${pruned.inputFiles.toSeq}, stats admit $admitted")
    assert(admitted.size < entries.size, "string band pruned nothing")
    // the statless file is in every admitted set
    val statless = entries.find(_.bandStr("tag").isEmpty).get.path
    assert(admitted.contains(statless), "statless file was skipped")
    val want = df.unionByName(
        spark.range(520, 525).select(col("id").as("k"), lit("mm").as("tag"),
          (col("id") * 3).as("v")))
      .filter(col("tag") >= "cc" && col("tag") <= "ff")
    assert(pruned.count() == want.count() && want.count() > 0)
    // a band above every recorded tag admits ONLY the statless file
    // (it cannot be proven disjoint) and the row filter returns empty
    val none = ManifestTable.readPruned(spark, root, v2, df.schema,
      between(("tag", "zza", "zzz")))
    assert(none.inputFiles.map(_.split('/').last).toSet == Set(statless))
    assert(none.count() == 0)
  }

  test("mergeCoW preserves STRING-stat coverage through the rewrite " +
    "(the narrowing hazard the long-stat discipline already guards)") {
    val root = Files.createTempDirectory("graft_mf_strmerge")
    val df = spark.range(400).select(col("id").as("k"),
      expr("char(97 + id % 26)").as("tag"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base",
      Seq("k"), Seq("tag")))
    val v2 = ManifestTable.mergeCoW(spark, root, v1, df.schema,
      "k", 0, 99)(b => b.withColumn("v",
        when(col("k") < 100, col("v") + 1).otherwise(col("v"))))
    val es = ManifestTable.entriesFor(root, v2)
    assert(es.nonEmpty && es.forall(e =>
      e.band("k").isDefined && e.bandStr("tag").isDefined),
      "string stats lost through the CoW rewrite")
    // and the rewritten band is still exact vs the rows it covers
    val rewritten = es.filterNot(e =>
      ManifestTable.entriesFor(root, v1).map(_.path).contains(e.path))
    assert(rewritten.nonEmpty)
    rewritten.foreach { e =>
      val rows = spark.read.schema(df.schema).parquet(
        root.resolve("data").resolve(e.path).toString)
      val mm = rows.agg(min("tag"), max("tag")).head()
      assert(e.bandStr("tag").contains((mm.getString(0), mm.getString(1))))
    }
  }

  test("the declared string-pruned query physically skips files on the " +
    "brand band") {
    val part = Tables.table(spark, sfDir, "part")
    val root = ManifestOps.strRoot(spark, sfDir)
    val v = ManifestTable.latestVersion(root)
    val entries = ManifestTable.entriesFor(root, v)
    assert(entries.size == 9, s"expected 6+3 brand-laid files: $entries")
    assert(entries.forall(e =>
      e.bandStr("p_brand").isDefined && e.band("p_partkey").isDefined))
    val pruned = ManifestTable.readPruned(spark, root, v, part.schema,
      between(("p_brand", "Brand#12", "Brand#19")))
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.length < entries.size,
      s"brand band admitted ${pruned.inputFiles.length}/${entries.size} " +
      "files — pruned nothing")
    val want = part
      .filter(col("p_brand") >= "Brand#12" && col("p_brand") <= "Brand#19")
      .count()
    assert(pruned.count() == want && want > 0)
  }
}
