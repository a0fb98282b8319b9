package graft

import java.nio.file.{Files, Path}
import graft.operators.ManifestTable
import graft.sources.ManifestRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** Round-10 wave 141: the five round-9 ADVICE hazards, each proven
  * fixed by the failure scenario the advice named.
  *
  *  1. prefixUpper incrementing into the surrogate gap skipped files
  *     that contain matching rows (missing results).
  *  2. the V1 write path stranded column mapping (appends after a
  *     rename null-filled the renamed column for pre-rename files).
  *  3. parquet checkpoint segments left `.crc` sidecars no sweep
  *     matched (unbounded metadata growth).
  *  4. the batch ledger keyed on path alone: a table deleted and
  *     recreated at the same path that reaches a version >= the cached
  *     bound silently dropped replayed batches.
  *  5. history() surfaced raw colmap= blobs as the operation token.
  */
class Wave141Spec extends SparkSpec {

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally s.close()
    }

  private def rel(root: Path) = {
    val v = ManifestTable.latestVersion(root)
    new ManifestRelation(spark.sqlContext, root, v,
      spark.read.format("graft-manifest").option("path", root.toString)
        .load().schema)
  }

  test("a pushed prefix ending at the surrogate gap (U+D7FF) still " +
    "admits the files that contain matching rows") {
    val root = Files.createTempDirectory("graft_w141_sur")
    // file content ABOVE the gap edge: tags "퟿" + letter — the
    // buggy upper bound ("\ud800" → UTF-8 '?') sorted BELOW the prefix
    // and proved every such file disjoint
    val df = spark.range(26).select(col("id").as("k"),
      concat(lit("퟿"), expr("char(97 + id % 26)")).as("tag"))
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartition(2), root, "b", Seq("k"), Seq("tag")))
    val r = rel(root)
    val pre = r.admittedEntries(Array(StringStartsWith("tag", "퟿")))
    assert(pre.nonEmpty, "surrogate-gap prefix skipped every file")
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("tag").startsWith("퟿")).count()
    assert(got == 26L, s"prefix read returned $got of 26 rows")
    // supplementary-plane edges: a prefix ending in U+10FFFF drops the
    // maximal scalar (falls back to >= semantics), a prefix ending in
    // another supplementary char increments the CODE POINT (never
    // breaking the pair) — both remain superset admits
    val maxCp = new String(Character.toChars(0x10FFFF))
    val supPair = r.admittedEntries(
      Array(StringStartsWith("tag", "a" + maxCp)))
    assert(supPair.isEmpty || supPair.nonEmpty) // shape: must not throw
    val sup2 = r.admittedEntries(
      Array(StringStartsWith("tag", new String(Character.toChars(0x103FF)))))
    assert(sup2.forall(e => e.path.nonEmpty))
  }

  test("V1 append after RENAME COLUMN stages physically and carries " +
    "the column mapping forward — no silent null-fill") {
    val root = Files.createTempDirectory("graft_w141_cmap")
    val df = spark.range(10).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    df.write.format("graft-manifest").option("path", root.toString)
      .mode("append").save()
    ManifestTable.renameColumn(root, "v", "val")
    // append under the LOGICAL (renamed) name through the V1 writer
    val df2 = spark.range(10, 20).select(col("id").as("k"),
      (col("id") * 2).as("val"))
    df2.write.format("graft-manifest").option("path", root.toString)
      .mode("append").save()
    val v = ManifestTable.latestVersion(root)
    // the append's commit must carry the mapping, not strand it
    assert(ManifestTable.columnMap(root, v).get("val").contains("v"),
      s"append dropped colmap: ${ManifestTable.headerMeta(root, v)}")
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
    assert(got.columns.toSeq == Seq("k", "val"))
    // every row (old files under physical 'v', new files staged under
    // physical 'v') resolves non-null through the mapping
    assert(got.filter(col("val").isNull).count() == 0,
      "renamed column null-filled after a V1 append")
    assert(got.agg(sum("val")).head.getLong(0) ==
      (0L until 20L).map(_ * 2).sum)
  }

  test("segment writes leave no .crc sidecars, and the orphan sweep " +
    "removes legacy ones") {
    val root = Files.createTempDirectory("graft_w141_crc")
    val df = spark.range(100).select(col("id").as("k"))
    ManifestTable.commit(root,
      ManifestTable.stage(df.repartition(3), root, "b", Seq("k")))
    val md = root.resolve("_manifests")
    val crcs = {
      val s = Files.list(md)
      try s.map[String](_.getFileName.toString).toArray.toSeq
        .collect { case n: String if n.endsWith(".crc") => n }
      finally s.close()
    }
    assert(crcs.isEmpty, s"checkpoint write left checksum files: $crcs")
    // a legacy sidecar beside a dead (unreferenced, past-horizon)
    // segment is swept with it
    Files.write(md.resolve("cpdead-s0.parquet"), Array[Byte](1))
    Files.write(md.resolve(".cpdead-s0.parquet.crc"), Array[Byte](1))
    val swept = ManifestTable.vacuumOrphanSegments(root,
      retainMillis = -1000)
    assert(swept.contains("cpdead-s0.parquet"))
    assert(!Files.exists(md.resolve(".cpdead-s0.parquet.crc")),
      "sweep left the checksum sidecar behind")
  }

  test("batch ledger keys on table identity: a recreate at the same " +
    "path that outgrows the cached bound still replays its batches") {
    val root = Files.createTempDirectory("graft_w141_ledger")
    val df = spark.range(5).select(col("id").as("k"))
    ManifestTable.commitBatch(df, root, batchId = 7L)
    assert(ManifestTable.latestVersion(root) == 1)
    deleteTree(root)
    Thread.sleep(3) // ts= identity is millis-resolution
    Files.createDirectories(root)
    // recreate and advance PAST the old cached bound before replaying
    ManifestTable.commit(root, ManifestTable.stage(df, root, "a"))
    ManifestTable.appendCommit(root, ManifestTable.stage(df, root, "b"))
    assert(ManifestTable.latestVersion(root) == 2)
    val v = ManifestTable.commitBatch(df, root, batchId = 7L)
    assert(v == 3,
      s"replayed batch was silently dropped (stale ledger): latest=$v")
  }

  test("DESCRIBE HISTORY keeps colmap out of the operation column") {
    val root = Files.createTempDirectory("graft_w141_hist")
    val df = spark.range(5).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    ManifestTable.commit(root, ManifestTable.stage(df, root, "b"),
      s"schema=${ManifestTable.schemaMeta(df.schema)}")
    ManifestTable.renameColumn(root, "v", "val")
    val ops = ManifestTable.history(spark, root)
      .select("operation").collect().map(_.getString(0))
    assert(!ops.exists(_.contains("colmap")),
      s"colmap blob leaked into operation: ${ops.toSeq}")
  }
}
