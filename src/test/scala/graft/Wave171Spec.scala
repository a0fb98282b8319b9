package graft

import java.nio.file.Files

import graft.operators.{FileEntry, ManifestOps, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-12 wave 171 — r11-VERDICT task 8: BINARY per-file bounds,
  * the last boundless leaf type (truncate(16) prefixes — a 10 MB blob
  * costs ~32 B of manifest). Claims proven here:
  *
  *  - line + segment encodings round-trip binary bounds, unbounded
  *    (all-0xFF) uppers included
  *  - truncation NEVER false-prunes: >16-byte values sharing a prefix
  *    are admitted by the incremented upper (the one hazard of
  *    truncated bounds)
  *  - a byte-range band skips files at the entry AND manifest-list
  *    level, and the pushed filter reaches the V1 source's admission
  *  - CoW rewrites preserve binary coverage (non-narrowing, fifth
  *    type); exactness via the registered source
  */
class Wave171Spec extends SparkSpec {

  test("binary bounds round-trip line + segments; truncation and the " +
    "unbounded upper behave") {
    val lo = Seq[Byte](1, 2, 3)
    val e = FileEntry("f.parquet", Seq("k" -> (1L, 9L)), Nil, Nil, Nil,
      Seq("b" -> ((lo, Some(Seq[Byte](0x28, 0x00)))),
          "c" -> ((Seq.fill[Byte](16)(-1), None))))
    val back = FileEntry.parse(e.line)
    assert(back == e, s"line roundtrip: $back")
    val root = Files.createTempDirectory("graft_w171_seg").resolve("t")
    Files.createDirectories(root)
    ManifestTable.commit(root, Seq(e.line))
    assert(ManifestTable.entriesFor(root, 1) == Seq(e),
      "segment roundtrip must preserve binary bounds")
    // truncation helpers: the Iceberg shape
    assert(FileEntry.binLower(Array.fill[Byte](20)(7)) ==
      Seq.fill[Byte](16)(7))
    assert(FileEntry.binUpper(Array[Byte](1, 2)) == Some(Seq[Byte](1, 2)),
      "short max is exact")
    val incremented = FileEntry.binUpper(
      Array.fill[Byte](16)(0x10) ++ Array[Byte](99))
    assert(incremented == Some(Seq.fill[Byte](15)(0x10) :+ 0x11.toByte),
      s"long max increments its truncation: $incremented")
    assert(FileEntry.binUpper(Array.fill[Byte](17)(-1)).isEmpty,
      "all-0xFF truncation has no finite upper")
    // the hazard case: two values sharing a 16-byte prefix, the file
    // records truncated bounds — the true max MUST still be admitted
    val pfx = Array.fill[Byte](16)(0x42)
    val entry = FileEntry("g.parquet", Nil, Nil, Nil, Nil,
      Seq("b" -> ((FileEntry.binLower(pfx ++ Array[Byte](1)),
        FileEntry.binUpper(pfx ++ Array[Byte](120))))))
    val trueMax = (pfx ++ Array[Byte](120)).toSeq
    assert(entry.mayContainBin("b", Some(trueMax), Some(trueMax)),
      "an equality on the true max must be admitted (no false prune)")
    assert(!entry.mayContainBin("b", None, Some(Seq[Byte](0x41))),
      "a band below the prefix is provably disjoint")
  }

  test("a binary band skips files at both levels and through the " +
    "registered source; exactness holds") {
    val root = ManifestOps.binStatsRoot(spark, sfDir)
    val live = ManifestTable.entriesFor(root, 1)
    assert(live.size == 8 && live.forall(_.bandBin("blob").isDefined))
    val cut = Some(Seq[Byte](0x28))
    val (hit, _, _) = ManifestTable.prunedEntries(root, 1, Nil, Nil,
      Nil, Nil, Seq(("blob", None, cut)))
    assert(hit.nonEmpty && hit.size < live.size,
      s"binary band must skip files: ${hit.size} of ${live.size}")
    // a disjoint band (above 0xFF prefix impossible: use a band below
    // every md5 that starts >= 0x00 … use an empty-range trick: the
    // minimal band strictly below the global min)
    val globalMin = live.map(_.bandBin("blob").get._1)
      .reduce((a, b) => if (FileEntry.binCmp(a, b) <= 0) a else b)
    if (FileEntry.binCmp(globalMin, Seq[Byte](0)) > 0) {
      val (none, segsRead, _) = ManifestTable.prunedEntries(root, 1,
        Nil, Nil, Nil, Nil, Seq(("blob", None, Some(Seq[Byte](0)))))
      assert(none.isEmpty && segsRead == 0,
        s"disjoint binary band must skip the segment read: $segsRead")
    }
    // exactness: pruned reader == plain filter, through the source
    val docs = Tables.table(spark, sfDir, "documents")
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("blob") < lit(Array[Byte](0x28.toByte))).count()
    val want = docs.filter(unhex(md5(col("text"))) <
      lit(Array[Byte](0x28.toByte))).count()
    assert(got == want && want > 0, s"pruned=$got plain=$want")
  }

  test("CoW rewrites preserve binary coverage (non-narrowing)") {
    val root = Files.createTempDirectory("graft_w171_cow").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 80).selectExpr("id AS k",
      "unhex(md5(cast(id AS string))) AS b")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base",
      Seq("k"), Nil, Nil, Nil, Seq("b")))
    ManifestTable.updateWhereCoW(spark, root, df.schema,
      col("k") < 10, Map("k" -> (col("k") + lit(1000))),
      longBands = Seq(("k", 0L, 9L)))
    val entries = ManifestTable.entriesFor(root, 2)
    assert(entries.forall(_.bandBin("b").isDefined),
      s"rewritten files must keep binary coverage: $entries")
  }
}
