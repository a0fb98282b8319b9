package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Wave 152 — the round-10 ADVICE fixes:
  *  - upsert fails loudly on TARGET-side duplicate matched keys (the
  *    medium finding: a one-image-per-key upsert would silently
  *    collapse duplicate target rows)
  *  - DaysTransform.exprCol uses exact integer math — bit-identical
  *    to ofLiteral for EVERY long, including |micros| beyond 2^53
  *    where the old floor(double/day) could disagree and false-prune
  *  - a stream over a range with deletion vectors OUTSTANDING at its
  *    start (not just changed inside it) fails loudly without
  *    ignoreDeletes — batch reads subtract those vectors from
  *    in-range appends, so raw emission would diverge
  *  - startingVersion is INCLUSIVE (the Delta contract): v streams
  *    v's own files (the exclusive reading dropped one commit)
  *  - hidden-partitioned SQL/V1 writes take writeFiles as an explicit
  *    option/property instead of deriving a file count from
  *    out.rdd.getNumPartitions
  */
class Wave152Spec extends SparkSpec {

  test("upsert rejects target-side duplicate rows for a matched key") {
    val root = Files.createTempDirectory("graft_w152_dup").resolve("t")
    Files.createDirectories(root)
    val base = spark.range(0, 20).selectExpr("id AS k", "id AS v")
    // key 7 appears TWICE in the target (unconstrained appends)
    val dup = base.unionAll(
      spark.range(7, 8).selectExpr("id AS k", "id + 100 AS v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      dup.repartitionByRange(2, col("k")), root, "base", Seq("k")))
    val updates = spark.range(7, 9).selectExpr("id AS k", "id * 10 AS v")
    val e = intercept[IllegalArgumentException] {
      ManifestTable.upsert(spark, root, v1, dup.schema, "k", updates)
    }
    assert(e.getMessage.contains("duplicate rows"),
      s"expected the target-duplicate guard, got: ${e.getMessage}")
    // a non-duplicated key set still upserts fine on the same table
    val ok = ManifestTable.upsert(spark, root, v1, dup.schema, "k",
      spark.range(3, 5).selectExpr("id AS k", "id * 10 AS v"))
    val got = ManifestTable.read(spark, root, ok, dup.schema)
      .filter(col("k").isin(3, 4)).select("v")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(30L, 40L), s"upserted images: $got")
  }

  test("DaysTransform exprCol equals ofLiteral for every long, " +
    "including beyond 2^53") {
    val t = ManifestTable.DaysTransform("us")
    val probes = Seq(0L, 1L, -1L, 86400000000L - 1, 86400000000L,
      -86400000000L, (1L << 53) + 86400000000L + 12345L,
      -((1L << 53) + 98765L), Long.MaxValue - 1, Long.MinValue + 1,
      Long.MaxValue, Long.MinValue)
    val got = spark.createDataFrame(
        spark.sparkContext.parallelize(probes.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("us",
            org.apache.spark.sql.types.LongType))))
      .select(col("us"), t.exprCol.as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probes.foreach { p =>
      assert(got(p) == t.ofLiteral(p),
        s"exprCol($p)=${got(p)} != ofLiteral=${t.ofLiteral(p)}")
    }
  }

  test("a stream starting below an UNCHANGED outstanding vector " +
    "fails loudly; ignoreDeletes opts in") {
    val root = Files.createTempDirectory("graft_w152_dv0").resolve("t")
    Files.createDirectories(root)
    val df = spark.range(0, 30).selectExpr("id AS k", "id AS v")
    ManifestTable.commit(root,
      ManifestTable.stage(df, root, "base", Seq("k")))
    // v2: a key vector lands; v3+: appends (some re-adding DV'd keys)
    ManifestTable.deleteMOR(root,
      spark.range(0, 5).selectExpr("id AS k"))
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(0, 10).selectExpr("id AS k", "id + 1000 AS v"),
      root, "ap"))
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    // startingVersion=3 → range (2, 3]: the DV list is IDENTICAL at
    // both endpoints yet outstanding — the old endpoint-diff guard
    // passed this and emitted the DV'd keys raw
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-manifest")
        .option("path", root.toString)
        .option("startingVersion", "3").load()
        .writeStream.format("memory").queryName("w152_dv_start")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(msgs(e).contains("ignoreDeletes"),
      s"outstanding-at-start vectors must fail: ${msgs(e)}")
    val q2 = spark.readStream.format("graft-manifest")
      .option("path", root.toString)
      .option("startingVersion", "3")
      .option("ignoreDeletes", "true").load()
      .writeStream.format("memory").queryName("w152_dv_optin")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // raw file-delta semantics: v3's 10 appended rows, DV ignored
    assert(spark.table("w152_dv_optin").count() == 10L)
  }

  test("startingVersion=v streams v's own files (inclusive, the " +
    "Delta contract)") {
    val root = Files.createTempDirectory("graft_w152_incl").resolve("t")
    Files.createDirectories(root)
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(0, 7).selectExpr("id AS k", "id AS v"), root, "a"))
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(7, 20).selectExpr("id AS k", "id AS v"), root, "b"))
    val q = spark.readStream.format("graft-manifest")
      .option("path", root.toString)
      .option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("w152_incl")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("w152_incl").count() == 13L,
      "startingVersion=2 must include v2's own 13-row delta")
  }

  test("hidden-partitioned writes honor writeFiles instead of the " +
    "pre-shuffle partition count") {
    val root = Files.createTempDirectory("graft_w152_wf").resolve("t")
    Files.createDirectories(root)
    val tr = Seq(ManifestTable.BucketTransform(4, "k"))
    // CREATE-equivalent: empty v1 carrying the transform meta
    ManifestTable.commit(root, Nil,
      "schema=k:bigint,v:bigint " + ManifestTable.transformsMeta(tr))
    spark.range(0, 400).selectExpr("id AS k", "id AS v")
      .repartition(7) // pre-shuffle width that must NOT leak through
      .write.format("graft-manifest")
      .option("path", root.toString)
      .option("writeFiles", "4")
      .mode("append").save()
    val latest = ManifestTable.latestVersion(root)
    val files = ManifestTable.filesFor(root, latest)
    assert(files.size <= 4 && files.nonEmpty,
      s"writeFiles=4 must bound the staged file count, got ${files.size}")
    // the layout still carries the virtual bucket stats
    val entries = ManifestTable.entriesFor(root, latest)
    assert(entries.forall(_.band("__ptb4_k").isDefined),
      "transform-laid files must record virtual bucket bounds")
  }
}
