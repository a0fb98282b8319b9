package graft

import java.nio.file.Files

import graft.operators.{FileEntry, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-11 wave 155: DOUBLE and µs-TIMESTAMP per-file stats bounds
  * (r10-VERDICT task 4 — until now only long/string columns pruned).
  * Claims proven here:
  *
  *  - the line encoding round-trips double bounds including NaN,
  *    ±Infinity and -0.0; parquet segments round-trip dstats and
  *    OLD segments (no dstats group) still read
  *  - a price band physically skips files at BOTH levels: entry
  *    admission (< live files admitted) and the manifest list
  *    (disjoint band reads zero segments)
  *  - timestamp columns record epoch-micros bounds bit-identical to
  *    the plan-time literal translation (Timestamp AND Instant forms)
  *  - CoW rewrites preserve double stat coverage (the non-narrowing
  *    rule extended to the third type)
  */
class Wave155Spec extends SparkSpec {

  test("line encoding round-trips doubles incl. NaN/±Inf/-0.0; " +
    "old segments read without dstats") {
    val e = FileEntry("f.parquet", Seq("k" -> (1L, 9L)),
      Seq("s" -> ("a", "b")),
      Seq("p" -> (-0.0, Double.NaN), "q" -> (Double.NegativeInfinity,
        Double.PositiveInfinity), "r" -> (1.5e-300, 2.5)))
    val back = FileEntry.parse(e.line)
    assert(back.stats == e.stats && back.strStats == e.strStats)
    assert(back.dblStats.map(_._1) == Seq("p", "q", "r"))
    val (p, q) = (back.bandDbl("p").get, back.bandDbl("q").get)
    assert(java.lang.Double.compare(p._1, -0.0) == 0 && p._2.isNaN)
    assert(q._1.isNegInfinity && q._2.isPosInfinity)
    // parquet segment roundtrip through a REAL checkpoint commit
    // (commit() writes SegIO segments since wave 133; entriesFor
    // resolves them back)
    val root = Files.createTempDirectory("graft_w155_seg").resolve("t")
    Files.createDirectories(root)
    ManifestTable.commit(root, Seq(e.line))
    val rs = ManifestTable.entriesFor(root, 1)
    // compare via the canonical line encoding: Scala's == on boxed
    // doubles keeps IEEE NaN != NaN, which is exactly the value the
    // roundtrip must preserve
    assert(rs.map(_.line) == Seq(e.line), s"segment roundtrip: $rs")
    // an OLD-schema segment (no dstats group) still reads: hand-write
    // a pre-round-11 segment + a manifest-list commit referencing it
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val oldSchema = MessageTypeParser.parseMessageType(
      """message graft_manifest_entry {
        |  required binary path (UTF8);
        |  repeated group lstats { required binary col (UTF8);
        |    required int64 lmin; required int64 lmax; }
        |  repeated group sstats { required binary col (UTF8);
        |    required binary smin (UTF8); required binary smax (UTF8); }
        |}""".stripMargin)
    val root2 = Files.createTempDirectory("graft_w155_old").resolve("t")
    Files.createDirectories(root2.resolve("_manifests"))
    val old = root2.resolve("_manifests").resolve("cpold-s0.parquet")
    @annotation.nowarn("cat=deprecation")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(old.toString))
      .withConf(new org.apache.hadoop.conf.Configuration())
      .withType(oldSchema).build()
    val g = new SimpleGroupFactory(oldSchema).newGroup()
    g.append("path", "legacy.parquet")
    val sg = g.addGroup("lstats")
    sg.append("col", "k"); sg.append("lmin", 3L); sg.append("lmax", 7L)
    w.write(g); w.close()
    Files.write(root2.resolve("_manifests").resolve("v00001.txt"),
      ("# graft-manifest version=1 parent=0 body=seg\n" +
       "@cpold-s0.parquet\t1\tk:3:7\n").getBytes("UTF-8"))
    val legacy = ManifestTable.entriesFor(root2, 1)
    assert(legacy == Seq(FileEntry("legacy.parquet", Seq("k" -> (3L, 7L)))),
      s"legacy segment must parse with empty dstats: $legacy")
  }

  test("a price band skips files at the entry AND manifest-list level") {
    import graft.operators.ManifestOps
    val root = ManifestOps.dblStatsRoot(spark, sfDir)
    val live = ManifestTable.entriesFor(root, 1)
    assert(live.size == 8 && live.forall(_.bandDbl("o_totalprice").isDefined))
    val (hit, _, _) = ManifestTable.prunedEntries(root, 1, Nil, Nil,
      Seq(("o_totalprice", 50000.0, 80000.0)))
    assert(hit.nonEmpty && hit.size < live.size,
      s"price band must skip files: ${hit.size} of ${live.size}")
    // a disjoint band reads ZERO manifest-list segments
    val (none, segsRead, segsListed) = ManifestTable.prunedEntries(root, 1,
      Nil, Nil, Seq(("o_totalprice", -2.0e9, -1.0e9)))
    assert(none.isEmpty && segsRead == 0 && segsListed > 0,
      s"disjoint band must skip the segment read: read=$segsRead")
    // exactness: pruned scan == plain filter
    val orders = Tables.table(spark, sfDir, "orders")
    val got = ManifestTable.readPruned(spark, root, 1, orders.schema,
      between(("o_totalprice", 50000.0, 80000.0))).count()
    val want = orders.filter(col("o_totalprice").between(50000.0, 80000.0))
      .count()
    assert(got == want, s"pruned=$got plain=$want")
  }

  test("timestamp stats record micros bit-identical to the literal " +
    "translation; pushed temporal filters derive bands") {
    val root = Files.createTempDirectory("graft_w155_ts").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 100).selectExpr("id AS k",
      "timestamp_micros(1700000000000000 + id * 1000000) AS ts")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "b",
      Seq("k", "ts"), Nil, Nil))
    val entries = ManifestTable.entriesFor(root, 1)
    assert(entries.forall(_.band("ts").isDefined))
    val (gmin, gmax) = (entries.map(_.band("ts").get._1).min,
      entries.map(_.band("ts").get._2).max)
    assert(gmin == 1700000000000000L && gmax == 1700000000000000L + 99000000L,
      s"ts bounds must be exact micros: $gmin..$gmax")
    // plan-time translation agrees for all three temporal literal forms
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val inst = java.time.Instant.ofEpochSecond(1700000000L, 123000)
    val stamp = java.sql.Timestamp.from(inst)
    val ldt = java.time.LocalDateTime.ofInstant(inst,
      java.time.ZoneOffset.UTC)
    val us = 1700000000000123L
    Seq[Any](inst, stamp, ldt).foreach { v =>
      val b = graft.sources.FilterBands
        .of(Array(EqualTo("ts", v)), identity).long
      assert(b == Seq(("ts", us, us)), s"$v → $b")
      val g = graft.sources.FilterBands
        .of(Array(GreaterThan("ts", v)), identity).long
      assert(g == Seq(("ts", us + 1, Long.MaxValue)), s"$v → $g")
    }
    // end to end: a pushed timestamp band through the registered source
    val got = spark.read.format("graft-manifest")
      .option("path", root.toString).load()
      .filter(col("ts") >= timestamp_micros(lit(1700000000000000L + 50000000L)))
      .count()
    assert(got == 50, s"timestamp band must return 50 rows, got $got")
  }

  test("CoW rewrites preserve double stat coverage (non-narrowing)") {
    val root = Files.createTempDirectory("graft_w155_cow").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 80)
      .selectExpr("id AS k", "cast(id AS double) * 1.5 AS p")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "b",
      Seq("k"), Nil, Seq("p")))
    ManifestTable.updateWhereCoW(spark, root, df.schema,
      col("k") < 10, Map("p" -> (col("p") + lit(1.0))),
      longBands = Seq(("k", 0L, 9L)))
    val entries = ManifestTable.entriesFor(root, 2)
    assert(entries.forall(_.bandDbl("p").isDefined),
      s"rewritten files must keep double coverage: $entries")
    // and the dbl-banded DELETE path prunes its touched set
    val v3 = ManifestTable.deleteWhereCoW(spark, root, df.schema,
      col("p") > 100.0, dblBands = Seq(("p", 100.0,
        Double.PositiveInfinity)))
    val kept = ManifestTable.read(spark, root, v3, df.schema)
    assert(kept.filter(col("p") > 100.0).count() == 0)
    assert(kept.count() == df.filter(!(col("p") > 100.0)).count())
  }
}
