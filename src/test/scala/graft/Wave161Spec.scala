package graft

import java.nio.file.Files

import graft.operators.{FileEntry, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-11 wave 161: DECIMAL per-file stats bounds — the last
  * numeric type without pruning (money columns in real schemas are
  * decimal). Claims proven here:
  *
  *  - the line encoding and parquet segments round-trip decimal
  *    bounds scale-exactly
  *  - a decimal-literal band skips files at the entry AND
  *    manifest-list level, and the pushed filter reaches the V1
  *    source's admission
  *  - CoW rewrites preserve decimal coverage (non-narrowing, fourth
  *    type)
  */
class Wave161Spec extends SparkSpec {

  test("decimal bounds round-trip the line encoding and segments " +
    "scale-exactly") {
    val e = FileEntry("f.parquet", Seq("k" -> (1L, 9L)), Nil, Nil,
      Seq("p" -> (BigDecimal("-12345.67"), BigDecimal("99999999.99")),
          "q" -> (BigDecimal("0.01"), BigDecimal("0.10"))))
    val back = FileEntry.parse(e.line)
    assert(back == e, s"line roundtrip: $back")
    assert(back.bandDec("q").get._2.scale == 2,
      "scale must survive the roundtrip (0.10, not 0.1)")
    val root = Files.createTempDirectory("graft_w161_seg").resolve("t")
    Files.createDirectories(root)
    ManifestTable.commit(root, Seq(e.line))
    assert(ManifestTable.entriesFor(root, 1) == Seq(e),
      "segment roundtrip must preserve decimal bounds")
  }

  test("a decimal band skips files at both levels and through the " +
    "registered source") {
    import graft.operators.ManifestOps
    val root = ManifestOps.decStatsRoot(spark, sfDir)
    val live = ManifestTable.entriesFor(root, 1)
    assert(live.size == 8 && live.forall(_.bandDec("o_price_dec").isDefined))
    val (hit, _, _) = ManifestTable.prunedEntries(root, 1, Nil, Nil, Nil,
      Seq(("o_price_dec", Some(BigDecimal("50000.00")),
        Some(BigDecimal("80000.00")))))
    assert(hit.nonEmpty && hit.size < live.size,
      s"decimal band must skip files: ${hit.size} of ${live.size}")
    // a disjoint band reads ZERO manifest-list segments
    val (none, segsRead, _) = ManifestTable.prunedEntries(root, 1,
      Nil, Nil, Nil,
      Seq(("o_price_dec", Some(BigDecimal("-2e9")),
        Some(BigDecimal("-1e9")))))
    assert(none.isEmpty && segsRead == 0,
      s"disjoint decimal band must skip the segment read: $segsRead")
    // pushed decimal filters reach the V1 admission (plan level)
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val viaFilter = graft.sources.FilterBands.of(Array(
      GreaterThanOrEqual("o_price_dec", new java.math.BigDecimal("50000.00"))),
      identity).dec
    assert(viaFilter.nonEmpty &&
      viaFilter.head._2 == Some(BigDecimal("50000.00")) &&
      viaFilter.head._3.isEmpty,
      "one-sided predicates are open intervals now (no sentinel)")
    // exactness: pruned reader == plain filter
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderkey BIGINT, o_custkey BIGINT, o_price_dec DECIMAL(12,2)")
    val got = ManifestTable.readPruned(spark, root, 1, schema,
      between(("o_price_dec", BigDecimal("50000.00"),
        BigDecimal("80000.00")))).count()
    val want = Tables.table(spark, sfDir, "orders")
      .filter(col("o_totalprice").cast("decimal(12,2)")
        .between(new java.math.BigDecimal("50000.00"),
          new java.math.BigDecimal("80000.00"))).count()
    assert(got == want, s"pruned=$got plain=$want")
  }

  test("CoW rewrites preserve decimal coverage (non-narrowing)") {
    val root = Files.createTempDirectory("graft_w161_cow").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 80).selectExpr("id AS k",
      "cast(cast(id AS double) / 4.0 AS decimal(10,2)) AS p")
    ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "b",
      Seq("k"), Nil, Nil, Seq("p")))
    ManifestTable.updateWhereCoW(spark, root, df.schema,
      col("k") < 10, Map("p" -> (col("p") + lit(1))),
      longBands = Seq(("k", 0L, 9L)))
    val entries = ManifestTable.entriesFor(root, 2)
    assert(entries.forall(_.bandDec("p").isDefined),
      s"rewritten files must keep decimal coverage: $entries")
    // and the dec-banded DELETE path prunes + deletes exactly
    val v3 = ManifestTable.deleteWhereCoW(spark, root, df.schema,
      col("p") > lit(new java.math.BigDecimal("15.00")),
      decBands = Seq(("p", Some(BigDecimal("15.00")), None)))
    val kept = ManifestTable.read(spark, root, v3, df.schema)
    assert(kept.filter(col("p") >
      lit(new java.math.BigDecimal("15.00"))).count() == 0)
  }
}
