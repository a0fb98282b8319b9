package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 120: MERGE INTO (keyed upsert) on the manifest table —
  * matched keys are full-row replaced, unmatched keys insert, touched
  * files are discovered through the per-file key bands (copy-on-write:
  * stats-disjoint files survive by path identity), and the
  * serializable-writer conflict rule covers both directions.
  */
class Wave120Spec extends SparkSpec {

  private def base() = {
    val root = Files.createTempDirectory("graft_mf_upsert")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    assert(v1 == 1)
    (root, df)
  }

  test("matched keys replace, unmatched insert, everything else " +
    "survives — and stats-disjoint files survive by PATH identity") {
    val (root, df) = base()
    // updates: keys 10 and 20 (matched, low band) + 150 (insert)
    val upd = spark.createDataFrame(Seq(
      (10L, 999L), (20L, 888L), (150L, 777L))).toDF("k", "v")
    val before = ManifestTable.entriesFor(root, 1)
    val v2 = ManifestTable.upsert(spark, root, 1, df.schema, "k", upd)
    val got = ManifestTable.read(spark, root, v2, df.schema)
    assert(got.count() == 101, "one insert should have landed")
    assert(got.filter(col("k") === 10L).head().getLong(1) == 999L)
    assert(got.filter(col("k") === 20L).head().getLong(1) == 888L)
    assert(got.filter(col("k") === 150L).head().getLong(1) == 777L)
    assert(got.filter(col("k") === 30L).head().getLong(1) == 90L,
      "an untouched row changed")
    // copy-on-write: the 4 range files cover ~[0,25),[25,50),[50,75),
    // [75,100); keys 10/20 live in the FIRST band only, so the other
    // files must survive into v2 verbatim (path identity)
    val after = ManifestTable.entriesFor(root, v2).map(_.path).toSet
    val touched = before.filter(e => !after.contains(e.path))
    assert(touched.size < before.size,
      "upsert rewrote every file — touched-file discovery is not pruning")
    assert(touched.forall(_.mayContain("k", 10L, 20L)),
      "a file disjoint from the update keys was rewritten")
    // the survivors' stats coverage is intact for later prunes
    assert(ManifestTable.entriesFor(root, v2).forall(_.band("k").nonEmpty))
  }

  test("a pure-insert upsert (no key matches) touches zero files") {
    val (root, df) = base()
    val upd = spark.createDataFrame(Seq((500L, 5L), (501L, 6L)))
      .toDF("k", "v")
    val v2 = ManifestTable.upsert(spark, root, 1, df.schema, "k", upd)
    val before = ManifestTable.filesFor(root, 1).toSet
    assert(ManifestTable.filesFor(root, v2).toSet.intersect(before) == before,
      "an all-insert upsert rewrote base files")
    assert(ManifestTable.read(spark, root, v2, df.schema).count() == 102)
  }

  test("conflict rule: an in-range concurrent append aborts, a " +
    "disjoint one composes") {
    val (root, df) = base()
    val upd = spark.createDataFrame(Seq((10L, 999L))).toDF("k", "v")
    // concurrent DISJOINT append (keys 200+) lands between read and
    // commit: the upsert retries on top and both commits survive.
    // The append must carry key stats — a stats-less newcomer cannot
    // prove disjointness and the conflict rule rightly aborts on it
    val v2 = ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(200, 205).select(col("id").as("k"), lit(0L).as("v"))
        .coalesce(1), root, "disjoint", Seq("k")))
    val v3 = ManifestTable.upsert(spark, root, 1, df.schema, "k", upd)
    assert(v3 == v2 + 1)
    val got = ManifestTable.read(spark, root, v3, df.schema)
    assert(got.count() == 105 &&
      got.filter(col("k") === 10L).head().getLong(1) == 999L &&
      got.filter(col("k") === 200L).count() == 1)
    // IN-RANGE newcomer: rows land inside the update key range after
    // the upsert's read — committing would skip rows the upsert never
    // saw (write skew), so it must abort
    val upd2 = spark.createDataFrame(Seq((10L, 1L), (210L, 2L)))
      .toDF("k", "v") // range [10, 210] spans the newcomer files
    val from = v3
    ManifestTable.appendCommit(root, ManifestTable.stage(
      spark.range(50, 52).select(col("id").as("k"), lit(7L).as("v"))
        .coalesce(1), root, "inband"))
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.upsert(spark, root, from, df.schema, "k", upd2)
    }
  }

  test("rewritten-read-set conflict aborts") {
    val (root, df) = base()
    val upd = spark.createDataFrame(Seq((10L, 999L))).toDF("k", "v")
    // a compaction after v1 rewrites the file the upsert read
    ManifestTable.compact(spark, root, 1, df.schema, 2)
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.upsert(spark, root, 1, df.schema, "k", upd)
    }
  }

  test("the change feed spans an upsert commit: updated rows surface " +
    "as delete/insert image pairs and the replay contract holds") {
    val (root, df) = base()
    val upd = spark.createDataFrame(Seq(
      (10L, 999L), (20L, 888L), (150L, 777L))).toDF("k", "v")
    val v2 = ManifestTable.upsert(spark, root, 1, df.schema, "k", upd)
    val feed = ManifestTable.readChanges(spark, root, 1, v2, df.schema, "k")
    val ins = feed.filter(col("_change_type") === "insert")
      .drop("_change_type")
    val del = feed.filter(col("_change_type") === "delete")
      .drop("_change_type")
    // updated keys appear on BOTH sides (pre-image delete, post-image
    // insert); the pure insert only on the insert side; untouched
    // rows (even inside rewritten files) feed NOTHING
    assert(del.filter(col("k").isin(10L, 20L)).count() == 2)
    assert(ins.filter(col("k").isin(10L, 20L, 150L)).count() == 3)
    assert(del.filter(col("k") === 150L).count() == 0)
    assert(feed.filter(!col("k").isin(10L, 20L, 150L)).count() == 0,
      "rows the upsert did not touch leaked into the change feed")
    // replay: read(v1) − deletes ⊎ inserts ≡ read(v2)
    val replayed = ManifestTable.read(spark, root, 1, df.schema)
      .exceptAll(del).unionAll(ins)
    val want = ManifestTable.read(spark, root, v2, df.schema)
    assert(replayed.exceptAll(want).isEmpty && want.exceptAll(replayed).isEmpty,
      "CDF replay across the upsert diverged from the target snapshot")
  }

  test("declared query: the merged state equals the source-side " +
    "restatement at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("manifest_upsert")(spark, dir)
    val orders = Tables.table(spark, dir, "orders")
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val q = mx / 4
    val updated = when(
      col("o_orderkey") % 17 === 0 && col("o_orderkey") < q, true)
      .otherwise(false)
    val expect = orders.select(
        col("o_orderkey"), col("o_custkey"),
        when(updated, lit("U")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        when(updated, col("o_totalprice") + 5.0d)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      .unionByName(orders
        .filter(col("o_orderkey") % 23 === 0 && col("o_orderkey") > 0)
        .select((col("o_orderkey") + mx).as("o_orderkey"), col("o_custkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")))
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "manifest_upsert diverged from the source-side restatement")
  }
}
