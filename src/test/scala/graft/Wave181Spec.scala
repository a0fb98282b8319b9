package graft

import java.nio.file.Files

import graft.operators.ManifestTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-13 wave 181 — r12-VERDICT task 4: ALTER COLUMN TYPE as a
  * metadata-only SAFE widening. Claims proven here:
  *
  *  - the widen commit rewrites ZERO data files (the live set is
  *    byte-identical across it) and the narrow files upcast at read
  *  - narrowing and cross-family casts fail loudly, naming the lattice
  *  - the promotion lattice matches Delta/Iceberg: integral up-chain,
  *    integral/float → double, decimal growth (scale and integer
  *    digits both non-decreasing)
  *  - the widened table reads correctly through the catalog's NATIVE
  *    V2 scan (pre-widen INT files + post-widen BIGINT files mix)
  */
class Wave181Spec extends SparkSpec {

  test("widensTo is the Delta/Iceberg promotion lattice") {
    val yes = Seq(
      (ByteType, ShortType), (ByteType, LongType), (ShortType, IntegerType),
      (IntegerType, LongType), (FloatType, DoubleType),
      (IntegerType, DoubleType),
      (DecimalType(5, 2), DecimalType(12, 2)),
      (DecimalType(5, 2), DecimalType(14, 4)))
    val no = Seq(
      (LongType, IntegerType), (DoubleType, FloatType),
      (LongType, DoubleType), // 2^63-1 is not exactly a double
      (StringType, LongType), (LongType, StringType),
      (DecimalType(12, 2), DecimalType(5, 2)),
      (DecimalType(12, 2), DecimalType(12, 4)), // integer digits shrink
      (IntegerType, IntegerType))
    yes.foreach { case (f, t) =>
      assert(ManifestTable.widensTo(f, t), s"$f -> $t must widen") }
    no.foreach { case (f, t) =>
      assert(!ManifestTable.widensTo(f, t), s"$f -> $t must NOT widen") }
  }

  test("widening is metadata-only (zero files rewritten) and narrow " +
    "files upcast at read; narrowing fails loudly") {
    val cat = "w181"
    val wh = Files.createTempDirectory("graft_w181")
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.ManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, q INT, f FLOAT) " +
      "USING `graft-manifest` TBLPROPERTIES ('statsColumns' = 'k')")
    spark.range(0, 100)
      .selectExpr("id AS k", "CAST(id AS INT) AS q",
        "CAST(id AS FLOAT) AS f")
      .createOrReplaceTempView("w181_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM w181_src")
    val root = wh.resolve("t")
    val before = ManifestTable.latestVersion(root)
    val filesBefore = ManifestTable.filesFor(root, before)

    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN q TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN f TYPE DOUBLE")
    val after = ManifestTable.latestVersion(root)
    assert(after == before + 2, "each widen is one commit")
    assert(ManifestTable.filesFor(root, after) == filesBefore,
      "widening must rewrite ZERO data files")

    // post-widen append with values beyond the INT range
    spark.sql(s"INSERT INTO $cat.t " +
      "SELECT id + 100, id + 3000000000, 0.5 FROM range(0, 10)")
    val got = spark.sql(s"SELECT k, q, f FROM $cat.t ORDER BY k").collect()
    assert(got.length == 110)
    assert(got(5).getLong(1) == 5L && got(5).getDouble(2) == 5.0,
      "pre-widen INT/FLOAT files must upcast exactly")
    assert(got(105).getLong(1) == 3000000005L,
      "post-widen values beyond INT range must round-trip")
    // the schema is the widened one
    assert(spark.table(s"$cat.t").schema("q").dataType == LongType)
    assert(spark.table(s"$cat.t").schema("f").dataType == DoubleType)

    // narrowing and cross-family: loud refusal naming the lattice
    Seq("ALTER COLUMN q TYPE INT", "ALTER COLUMN q TYPE STRING",
        "ALTER COLUMN f TYPE FLOAT").foreach { stmt =>
      val e = intercept[Exception](spark.sql(s"ALTER TABLE $cat.t $stmt"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else String.valueOf(t.getMessage) +: msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("not a safe widening") ||
        m.contains("NOT_SUPPORTED_CHANGE_COLUMN")),
        s"'$stmt' must fail loudly, got: ${msgs(e).mkString(" | ")}")
    }
  }

  test("a widened band-stats column keeps pruning correct (superset " +
    "admit: pre-widen files carry no band for it)") {
    val root = Files.createTempDirectory("graft_w181_prune").resolve("t")
    Files.createDirectories(root)
    val narrow = spark.range(0, 1000)
      .selectExpr("id AS k", "CAST(id AS INT) AS q")
    ManifestTable.commit(root, ManifestTable.stage(
      narrow.repartitionByRange(4, col("k")), root, "base", Seq("k")),
      s"schema=${ManifestTable.schemaMeta(narrow.schema)}")
    ManifestTable.widenColumnType(root, "q", LongType)
    val wide = spark.range(1000, 2000).selectExpr("id AS k", "id AS q")
    ManifestTable.appendCommit(root, ManifestTable.stage(
      wide.repartitionByRange(4, col("k")), root, "w", Seq("k", "q"),
      Nil, Nil), ManifestTable.evolutionMeta(root,
        ManifestTable.latestVersion(root)))
    val v = ManifestTable.latestVersion(root)
    // a q-band admits all 4 narrow files (no band recorded) plus only
    // the wide files whose band intersects — superset, never a miss
    val got = spark.read.format("graft-manifest-v2")
      .option("path", root.toString).load()
      .filter(col("q") >= 1500L)
    assert(got.count() == 500L, "widened-column predicate must be exact")
    assert(ManifestTable.entriesFor(root, v).count(_.band("q").isEmpty)
      == 4, "pre-widen files carry no q band (admitted unconditionally)")
  }
}
