package graft

import java.nio.file.Files

import graft.operators.{FileEntry, ManifestTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Round-12 wave 163 — the five r11-ADVICE fixes. The two schema-race
  * fixes are proven DETERMINISTICALLY with a reentrant-commit trick:
  * the metaOf closure's FIRST invocation itself commits a concurrent
  * widening, so the outer publish is guaranteed to lose its link race
  * and retry — the fix is that the retry recomputes the merged schema
  * against the winning parent instead of committing the stale
  * pre-read snapshot.
  *
  *  - appendCommitF recomputes meta per publish attempt
  *  - mergeRewrite's extraMetaOf folds the evolved schema against the
  *    winning parent (a concurrent widening survives a merge)
  *  - decimal filter bands use open intervals — a recorded decimal bound
  *    wider than the old "9"*40 sentinel is ADMITTED, not pruned
  *  - commitCheckpointBatch re-checks the batch ledger inside the
  *    publish retry (Complete-mode sink replay)
  *  - (explicit-SET evolution NULL semantics: Wave159Spec)
  */
class Wave163Spec extends SparkSpec {

  test("appendCommitF recomputes meta against the winning parent — " +
    "a concurrent schema widening survives a mergeSchema append") {
    val root = Files.createTempDirectory("graft_w163_app").resolve("t")
    Files.createDirectories(root)
    val base = spark.range(0, 10).selectExpr("id AS k", "id AS v")
    ManifestTable.commit(root, ManifestTable.stage(base, root, "b"),
      s"schema=${ManifestTable.schemaMeta(base.schema)}")
    // our append carries new column `a`; the CONCURRENT widening
    // (committed from inside the first metaOf invocation, i.e. after
    // the outer attempt resolved its parent) carries new column `z`
    val mine = spark.range(10, 15)
      .selectExpr("id AS k", "id AS v", "id * 2 AS a")
    val staged = ManifestTable.stage(mine, root, "ap")
    val invocations = new java.util.concurrent.atomic.AtomicInteger(0)
    def mergedAt(parent: Int): StructType = {
      val recorded = ManifestTable.parseSchemaMeta(
        ManifestTable.headerMeta(root, parent)("schema"))
      StructType(recorded.fields ++ mine.schema.fields.filterNot(f =>
        recorded.fieldNames.contains(f.name)))
    }
    ManifestTable.appendCommitF(root, staged, { parent =>
      if (invocations.incrementAndGet() == 1) {
        // the racing writer publishes FIRST: widen with z (zero-op)
        val widened = StructType(mergedAt(parent).fields.take(2) ++
          Seq(org.apache.spark.sql.types.StructField("z",
            org.apache.spark.sql.types.LongType)))
        ManifestTable.appendCommit(root, Nil,
          s"schema=${ManifestTable.schemaMeta(widened)}"): Unit
      }
      s"schema=${ManifestTable.schemaMeta(mergedAt(parent))}"
    })
    assert(invocations.get() >= 2,
      "the forced link collision must retry and re-invoke metaOf")
    val finalSchema = ManifestTable.parseSchemaMeta(
      ManifestTable.headerMeta(root,
        ManifestTable.latestVersion(root))("schema"))
    assert(finalSchema.fieldNames.toSeq == Seq("k", "v", "z", "a"),
      s"the concurrent widening (z) must survive the append's schema " +
      s"merge, got ${finalSchema.fieldNames.toSeq}")
  }

  test("mergeRewrite extraMetaOf folds evolution against the winning " +
    "parent — a concurrent widening survives a MERGE") {
    val root = Files.createTempDirectory("graft_w163_mrg").resolve("t")
    Files.createDirectories(root)
    val base = spark.range(0, 40).selectExpr("id AS k", "id AS v")
    ManifestTable.commit(root, ManifestTable.stage(
      base.repartitionByRange(2, col("k")), root, "b", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(base.schema)}")
    // the merge evolves with column `m`; the concurrent widening
    // (again injected via the first metaOf invocation) adds `z`
    val evolved = StructType(base.schema.fields :+
      org.apache.spark.sql.types.StructField("m",
        org.apache.spark.sql.types.LongType))
    val srcKeys = spark.range(0, 5).selectExpr("id AS k")
    val invocations = new java.util.concurrent.atomic.AtomicInteger(0)
    ManifestTable.mergeRewrite(spark, root, 1, evolved, "k", srcKeys,
      touchAll = false, { parent =>
        if (invocations.incrementAndGet() == 1) {
          val widened = StructType(base.schema.fields :+
            org.apache.spark.sql.types.StructField("z",
              org.apache.spark.sql.types.LongType))
          ManifestTable.appendCommit(root, Nil,
            s"schema=${ManifestTable.schemaMeta(widened)}"): Unit
        }
        val parentRecorded = ManifestTable.parseSchemaMeta(
          ManifestTable.headerMeta(root, math.max(parent, 1))("schema"))
        val merged = StructType(parentRecorded.fields ++
          evolved.fields.filterNot(f =>
            parentRecorded.fieldNames.contains(f.name)))
        s"schema=${ManifestTable.schemaMeta(merged)}"
      }) { touched =>
      touched.withColumn("m",
        when(col("k") < 5, col("k") * 10).otherwise(lit(null)))
    }
    assert(invocations.get() >= 2,
      "the forced link collision must retry and re-invoke extraMetaOf")
    val finalSchema = ManifestTable.parseSchemaMeta(
      ManifestTable.headerMeta(root,
        ManifestTable.latestVersion(root))("schema"))
    assert(finalSchema.fieldNames.toSeq == Seq("k", "v", "z", "m"),
      s"the concurrent widening (z) must survive the merge's evolved " +
      s"schema, got ${finalSchema.fieldNames.toSeq}")
  }

  test("decimal bounds wider than the old sentinel are admitted under " +
    "one-sided predicates (open intervals, no false prune)") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    // a recorded band ABOVE 10^40 — beyond Spark's own 38-digit cap,
    // but the format's line encoding carries arbitrary BigDecimal and
    // admission must stay a superset admit for any of it
    val wide = FileEntry("f.parquet", Nil, Nil, Nil,
      Seq("p" -> (BigDecimal("1e41"), BigDecimal("2e41"))))
    val gt = graft.sources.FilterBands.of(
      Array(GreaterThan("p", new java.math.BigDecimal("5"))), identity).dec
    assert(gt == Seq(("p", Some(BigDecimal(5)), None)))
    assert(wide.mayContainDecOpt("p", gt.head._2, gt.head._3),
      "p > 5 must admit a file whose band sits above the old sentinel")
    val lt = graft.sources.FilterBands.of(
      Array(LessThan("p", new java.math.BigDecimal("5"))), identity).dec
    assert(!wide.mayContainDecOpt("p", lt.head._2, lt.head._3),
      "p < 5 is genuinely disjoint from [1e41, 2e41] — still prunes")
  }

  test("commitCheckpointBatch re-checks the batch ledger inside the " +
    "publish retry: a replayed Complete batch cannot double-commit") {
    val root = Files.createTempDirectory("graft_w163_ck").resolve("t")
    Files.createDirectories(root)
    val b7 = spark.range(0, 10).selectExpr("id AS k")
    val v1 = ManifestTable.commitCheckpointBatch(root,
      ManifestTable.stage(b7, root, "c7a"), 7L)
    assert(v1 == 1)
    val files1 = ManifestTable.filesFor(root, 1)
    // the replay: staging already happened (the racing-replays shape —
    // both passed any outside check), the ledger check inside the
    // commit closure must no-op it
    val v2 = ManifestTable.commitCheckpointBatch(root,
      ManifestTable.stage(b7, root, "c7b"), 7L)
    assert(v2 == 1, s"replayed batch must not commit, got v$v2")
    assert(ManifestTable.latestVersion(root) == 1)
    assert(ManifestTable.filesFor(root, 1) == files1,
      "the live set must be the first commit's")
    // a NEW batch id still commits (the ledger is per-id)
    val v3 = ManifestTable.commitCheckpointBatch(root,
      ManifestTable.stage(b7, root, "c8"), 8L)
    assert(v3 == 2)
  }
}
