package graft

import java.nio.file.{Files, Path}
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 139: fixes from the closing-session adversarial
  * review. Each test is one finding turned into a regression proof:
  * the registered source on a RENAMED table (colmap-blind reads
  * null-filled the renamed column silently), the batch ledger across
  * a delete-and-recreate at one path (stale cache dropped batches),
  * UTF-8 vs UTF-16 string-bound ordering (wrong-order compare skipped
  * a non-empty file), string-stat preservation through zorder and
  * compactMOR (silent pruning degradation), the DV fail-loud guard on
  * the pruned readers (silent resurrection), stray files in
  * _manifests/ (NumberFormatException in the listing fallbacks), and
  * the orphan sweep across a crashed expiry (straggler-referenced
  * segments were deletable).
  */
class Wave139Spec extends SparkSpec {

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(c => deleteTree(c)) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  test("the registered source reads a RENAMED table correctly: values " +
    "surface under the logical name and pushed filters still skip") {
    val root = Files.createTempDirectory("graft_src_rename")
    val df = spark.range(100).select(col("id").as("k"),
      (col("id") * 2).as("price"))
    df.repartitionByRange(4, col("k"))
      .write.format("graft-manifest").option("path", root.toString)
      .option("statsColumns", "k,price").mode("append").save()
    ManifestTable.renameColumn(root, "price", "cost")
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    assert(got.schema.fieldNames.toSeq == Seq("k", "cost"))
    // the colmap-blind read null-filled "cost"; it must carry values
    assert(got.filter(col("cost").isNull).count() == 0,
      "renamed column read as NULL through the source API")
    assert(got.agg(sum("cost")).head().getLong(0) ==
      df.agg(sum("price")).head().getLong(0))
    // pushed filter on the LOGICAL name skips via the PHYSICAL stats
    val rel = new graft.sources.ManifestRelation(spark.sqlContext, root,
      ManifestTable.latestVersion(root), got.schema)
    val all = rel.admittedEntries(Array.empty)
    val band = rel.admittedEntries(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("cost", 150L)))
    assert(band.nonEmpty && band.size < all.size,
      s"filter on renamed column admitted ${band.size}/${all.size}")
    assert(got.filter(col("cost") >= 150).count() ==
      df.filter(col("price") >= 150).count())
  }

  test("the batch ledger survives delete-and-recreate at one path: a " +
    "shrunken history discards the cache instead of dropping batches") {
    val root = Files.createTempDirectory("graft_ledger_reset")
    val df = spark.range(5).select(col("id").as("k"))
    (0L to 5L).foreach(b => ManifestTable.commitBatch(df, root, b))
    assert(ManifestTable.latestVersion(root) == 6)
    deleteTree(root)
    Files.createDirectories(root)
    // the recreated table replays from batch 0 — it must LAND
    ManifestTable.commitBatch(df, root, 0L)
    assert(ManifestTable.latestVersion(root) == 1,
      "batch 0 was silently dropped by the stale ledger cache")
    assert(ManifestTable.read(spark, root, 1, df.schema).count() == 5)
  }

  test("string bounds compare in UTF-8 byte order: supplementary-plane " +
    "text does not make pruning skip a non-empty file") {
    val root = Files.createTempDirectory("graft_u8")
    // UTF-16 order: U+10000 (surrogates D800 DC00) < U+FFFF;
    // UTF-8 order: U+10000 (F0...) > U+FFFF (EF...). Spark records
    // bounds in UTF-8 order: (min, max) = ("￿", U+10000).
    val supp = new String(Character.toChars(0x10000))
    val df = spark.createDataFrame(Seq((1L, "￿"), (2L, supp)))
      .toDF("k", "tag")
    ManifestTable.commit(root, ManifestTable.stage(
      df.coalesce(1), root, "base", Seq("k"), Seq("tag")))
    val hit = ManifestTable.readPruned(spark, root, 1, df.schema,
      between(("tag", "￿", "￿")))
    assert(hit.count() == 1,
      "UTF-16 bound compare skipped the file holding U+FFFF")
    // and the segment-level (manifest list) bounds admit it too
    val (es, _, _) = ManifestTable.prunedEntries(root, 1, Nil,
      Seq(("tag", Some("￿"), Some("￿"))))
    assert(es.size == 1)
  }

  test("optimizeZorder and compactMOR preserve string-stat coverage " +
    "(the non-narrowing rule)") {
    val root = Files.createTempDirectory("graft_zstr")
    val df = spark.range(400).select(col("id").as("k"),
      (col("id") % 50).as("c"), expr("char(97 + id % 26)").as("tag"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base",
      Seq("k", "c"), Seq("tag")))
    val v2 = ManifestTable.optimizeZorder(spark, root, v1, df.schema,
      Seq("k", "c"), 4)
    assert(ManifestTable.entriesFor(root, v2).forall(e =>
      e.bandStr("tag").isDefined),
      "zorder dropped string stats")
    val v3 = ManifestTable.deleteMOR(root, df.filter(col("k") < 5)
      .select("k"))
    val v4 = ManifestTable.compactMOR(spark, root, v3, df.schema, "k", 2)
    assert(ManifestTable.entriesFor(root, v4).forall(e =>
      e.bandStr("tag").isDefined && e.band("c").isDefined),
      "compactMOR dropped stat coverage")
  }

  test("pruned readers fail loudly on DV-carrying snapshots instead of " +
    "resurrecting deleted rows") {
    val root = Files.createTempDirectory("graft_prune_dv")
    val df = spark.range(100).select(col("id").as("k"),
      expr("char(97 + id % 26)").as("tag"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base",
      Seq("k"), Seq("tag")))
    val v2 = ManifestTable.deleteMOR(root, df.filter(col("k") < 10)
      .select("k"))
    intercept[IllegalArgumentException] {
      ManifestTable.readPruned(spark, root, v2, df.schema, "k", 0, 50) }
    intercept[IllegalArgumentException] {
      ManifestTable.readPruned(spark, root, v2, df.schema,
        between(("tag", "a", "m"))) }
    // the pre-delete snapshot still prunes fine
    assert(ManifestTable.readPruned(spark, root, 1, df.schema,
      "k", 0, 50).count() == 51)
  }

  test("stray files in _manifests/ are inert to the listing fallbacks") {
    val root = Files.createTempDirectory("graft_stray")
    ManifestTable.commit(root, Seq("f1.parquet"))
    val d = root.resolve("_manifests")
    Files.write(d.resolve("v2-backup.txt"), "junk".getBytes)
    Files.write(d.resolve("versions.txt"), "junk".getBytes)
    Files.deleteIfExists(d.resolve("_latest"))
    assert(ManifestTable.latestVersion(root) == 1)
    assert(ManifestTable.firstVersion(root) == 1)
  }

  test("the orphan sweep never deletes segments referenced by a " +
    "crashed expiry's straggler manifests") {
    val root = Files.createTempDirectory("graft_straggler")
    val df = spark.range(50).select(col("id").as("k"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartition(2), root, "base"))
    (2 to 20).foreach { i =>
      ManifestTable.appendCommit(root, ManifestTable.stage(
        df.limit(2).coalesce(1), root, s"a$i"))
    }
    // simulate a crashed expiry: hint advanced to 17, deletes never ran
    val d = root.resolve("_manifests")
    Files.write(d.resolve("_first"), "17".getBytes("UTF-8"))
    val dead = ManifestTable.vacuumOrphanSegments(root, retainMillis = 0)
    assert(dead.isEmpty,
      s"swept segments referenced by straggler manifests: $dead")
    // the straggler checkpoints (v1, v9) must still resolve
    assert(ManifestTable.filesFor(root, 9).nonEmpty)
    assert(ManifestTable.filesFor(root, 1).nonEmpty)
  }
}
