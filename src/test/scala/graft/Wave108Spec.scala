package graft

import java.nio.file.{Files, Path}
import graft.operators.{ManifestOps, ManifestTable}
import org.apache.spark.sql.functions._

/** Round-9 wave 108: the manifest DELTA LOG (r8 VERDICT item 1 — the
  * complete-list-per-commit format was the one genuine 100 TB limit)
  * and per-column file stats (item 2). Claims proven here, not by the
  * oracles: commit bytes are O(delta) with a checkpoint every 8th
  * commit, readers resolve identically across delta/checkpoint
  * boundaries, rewrites ride the log as −/+ ops, deleteMOR is a
  * zero-line commit, and multi-predicate prunes intersect per-column
  * bounds at file granularity.
  */
class Wave108Spec extends SparkSpec {

  private def header(root: Path, v: Int): String = {
    val f = root.resolve("_manifests").resolve(f"v$v%05d.txt")
    Files.readAllLines(f).get(0)
  }
  private def bodyLines(root: Path, v: Int): Seq[String] = {
    val f = root.resolve("_manifests").resolve(f"v$v%05d.txt")
    scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(f))
      .asScala.drop(1).filter(_.nonEmpty).toSeq
  }

  test("appends write O(|added|) delta manifests, a checkpoint lands " +
    "every 8th commit, and every version resolves identically to an " +
    "independently tracked live set") {
    val root = Files.createTempDirectory("graft_mf_dlog")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    var expected = Map.empty[Int, Set[String]] // version -> live paths
    val base = ManifestTable.stage(df.repartition(4), root, "base")
    val v1 = ManifestTable.commit(root, base)
    expected += v1 -> base.toSet
    // 20 appends: the chain crosses two checkpoint boundaries
    (1 to 20).foreach { i =>
      val add = ManifestTable.stage(df.limit(2).coalesce(1), root, s"a$i")
      val v = ManifestTable.appendCommit(root, add)
      assert(v == v1 + i)
      expected += v -> (expected(v - 1) ++ add)
    }
    // EVERY version (not just the head) resolves to its tracked set —
    // pinned time travel is unaffected by the log's physical shape
    expected.foreach { case (v, want) =>
      assert(ManifestTable.filesFor(root, v).toSet == want,
        s"v$v resolved wrong file set")
    }
    // physical log shape: v1 full; then deltas with depth 1..7; the
    // 8th chained commit is a full checkpoint (no kind=delta), etc.
    (v1 + 1 to v1 + 20).foreach { v =>
      val h = header(root, v)
      val chainPos = (v - v1) % 8
      if (chainPos == 0)
        assert(!h.contains("kind=delta"),
          s"v$v should be a checkpoint: $h")
      else {
        assert(h.contains("kind=delta") && h.contains(s"depth=$chainPos"),
          s"v$v should be a depth-$chainPos delta: $h")
        // O(delta): exactly the one added file, regardless of the 20+
        // files the table holds by now
        assert(bodyLines(root, v).size == 1,
          s"delta v$v body not O(delta): ${bodyLines(root, v)}")
      }
    }
    // commit bytes: a late delta's BODY is a small fraction of its
    // neighbor checkpoint's (the r8 format wrote ~checkpoint bytes
    // EVERY commit). Headers are excluded — they are O(1) per commit
    // (version/parent/ts/kind) and dominate a 1-line delta on this
    // deliberately tiny table, which would make the ratio measure the
    // header constant instead of the claim. A checkpoint's body since
    // wave 133 is its parquet SEGMENTS (the manifest list's @lines
    // point at them) — its bytes are the segment file sizes.
    def bodyBytes(v: Int): Long = {
      val ls = bodyLines(root, v)
      if (ls.forall(_.startsWith("@")) && header(root, v).contains("body=seg"))
        ls.map(l => Files.size(root.resolve("_manifests")
          .resolve(l.drop(1).split('\t').head))).sum
      else ls.map(_.length + 1L).sum
    }
    val deltaBytes = bodyBytes(v1 + 20)
    val ckptBytes = bodyBytes(v1 + 16)
    assert(deltaBytes * 4 < ckptBytes,
      s"delta body $deltaBytes B vs checkpoint body $ckptBytes B — " +
      "not O(delta)")
    // the rows behind the resolved head match the appends
    assert(ManifestTable.read(spark, root, v1 + 20, df.schema).count()
      == 100 + 20 * 2)
  }

  test("rewrites (mergeCoW / optimizeSmall) ride the delta log as " +
    "-/+ ops; deleteMOR commits ZERO body lines; incremental reads and " +
    "stats survive the chain") {
    val root = Files.createTempDirectory("graft_mf_dlog2")
    val df = spark.range(200).select(col("id").as("k"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    // a small append, then a band merge: the merge manifest must be a
    // delta carrying only (-replaced, +rewritten)
    val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(200, 210).select(col("id").as("k"), (col("id") * 3).as("v"))
        .coalesce(1), root, "late", Seq("k")))
    val v3 = ManifestTable.mergeCoW(spark, root, v2, df.schema, "k", 0, 49)(
      b => b.withColumn("v",
        when(col("k").between(0, 49), col("v") + 1).otherwise(col("v"))))
    val b3 = bodyLines(root, v3)
    assert(header(root, v3).contains("kind=delta"))
    assert(b3.exists(_.startsWith("-")) && b3.exists(_.startsWith("+")),
      s"merge delta must carry -/+ ops: $b3")
    assert(b3.size < ManifestTable.filesFor(root, v3).size,
      "merge manifest scales with the table, not the delta")
    // stats survive resolution: every live entry still carries k bounds
    val entries = ManifestTable.entriesFor(root, v3)
    assert(entries.nonEmpty && entries.forall(_.band("k").isDefined),
      "per-file stats lost through the delta chain")
    // deleteMOR: zero-op body, dv= meta only
    val v4 = ManifestTable.deleteMOR(root,
      df.filter(col("k") < 5).select("k"))
    assert(bodyLines(root, v4).isEmpty,
      s"MOR delete wrote body lines: ${bodyLines(root, v4)}")
    assert(ManifestTable.filesFor(root, v4).toSet ==
      ManifestTable.filesFor(root, v3).toSet)
    // readIncremental across the append still sees exactly the delta
    val inc = ManifestTable.readIncremental(spark, root, v1, v2, df.schema)
    assert(inc.count() == 10)
    // and the append-only guard still refuses across the merge
    intercept[IllegalArgumentException] {
      ManifestTable.readIncremental(spark, root, v2, v3, df.schema)
    }
  }

  test("multi-predicate prune intersects per-column bounds: both " +
    "columns prune files, conjunction composes, and rows stay exact") {
    val root = Files.createTempDirectory("graft_mf_pcol")
    // j correlates with k (j = 10000 - k), so a j band admits a
    // DIFFERENT file subset than a k band — both dimensions prune
    val df = spark.range(1000).select(col("id").as("k"),
      (lit(10000L) - col("id")).as("j"), (col("id") * 7).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(8, col("k")), root, "base", Seq("k", "j")))
    val entries = ManifestTable.entriesFor(root, v1)
    assert(entries.size == 8 && entries.forall(e =>
      e.band("k").isDefined && e.band("j").isDefined))
    // k band alone: low files; j band alone: high-k files (inverted)
    def admitted(preds: Seq[(String, Long, Long)]) =
      entries.filter(e => preds.forall { case (c, lo, hi) =>
        e.mayContain(c, lo, hi) }).map(_.path).toSet
    val kOnly = admitted(Seq(("k", 0L, 200L)))
    val jOnly = admitted(Seq(("j", 9000L, 9100L))) // k in [900,1000]
    assert(kOnly.nonEmpty && jOnly.nonEmpty && kOnly.intersect(jOnly).isEmpty,
      s"correlated bands should admit disjoint file sets: $kOnly / $jOnly")
    // conjunction of the two disjoint-admitting bands → NO file scans
    val none = ManifestTable.readPruned(spark, root, v1, df.schema,
      between(("k", 0L, 200L), ("j", 9000L, 9100L)))
    assert(none.inputFiles.isEmpty && none.count() == 0)
    // a satisfiable conjunction: physical inputFiles == the admitted
    // intersection, rows == the exact filter
    val preds = Seq(("k", 100L, 300L), ("j", 9750L, 9960L)) // k∈[40,250]
    val both = ManifestTable.readPruned(spark, root, v1, df.schema,
      between(preds: _*))
    val admit = admitted(preds)
    assert(both.inputFiles.map(_.split('/').last).toSet == admit,
      s"scan read ${both.inputFiles.toSeq}, stats admit $admit")
    assert(admit.size < entries.size, "conjunction pruned nothing")
    val want = df.filter(col("k").between(100, 300) &&
      col("j").between(9750, 9960)).count()
    assert(both.count() == want && want > 0)
  }

  test("the declared cow table carries two stat columns, and a " +
    "two-predicate prune on it scans a strict file subset") {
    val orders = Tables.table(spark, sfDir, "orders")
    val root = ManifestOps.cowRoot(spark, sfDir)
    val v = ManifestTable.latestVersion(root)
    val entries = ManifestTable.entriesFor(root, v)
    assert(entries.forall(e => e.band("o_orderkey").isDefined &&
      e.band("o_custkey").isDefined),
      "cow entries must carry stats for both declared columns")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val mxC = orders.agg(max("o_custkey")).head().getLong(0)
    val pruned = ManifestTable.readPruned(spark, root, v,
      orders.schema,
      between(("o_orderkey", mx / 10, mx / 5), ("o_custkey", 0L, mxC / 2)))
    assert(pruned.inputFiles.length < entries.size,
      "two-predicate prune scanned every file")
    // exactness vs the full-scan filter (band below the merge band)
    val full = ManifestTable.read(spark, root, v, orders.schema)
      .filter(col("o_orderkey").between(mx / 10, mx / 5) &&
        col("o_custkey").between(0, mxC / 2))
    assert(pruned.count() == full.count())
  }
}
