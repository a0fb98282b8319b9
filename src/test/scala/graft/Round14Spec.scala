package graft

import java.nio.file.{Files, Path}
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Staging guards: every staged file survives whatever characters the
  * caller's batch name carries, and a staging call that fails leaves
  * no file of its batch in data/.
  */
class Round14Spec extends SparkSpec {

  private def dataFiles(root: Path): Seq[Path] = {
    val data = root.resolve("data")
    if (!Files.exists(data)) Nil
    else {
      val st = Files.walk(data)
      try st.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      finally st.close()
    }
  }

  private def stagesEveryFile(batch: String): Unit = {
    val root = Files.createTempDirectory("graft_r14_name")
    val orders = Tables.table(spark, sfDir, "orders").limit(100)
    val staged = ManifestTable.stage(
      orders.repartition(3), root, batch, Seq("o_orderkey"))
    assert(staged.size == 3, s"expected 3 staged files, got $staged")
    val v = ManifestTable.commit(root, staged)
    val entries = ManifestTable.entriesFor(root, v)
    assert(entries.size == 3)
    entries.foreach { e =>
      assert(e.path.startsWith(s"$batch-"), s"unexpected staged name ${e.path}")
      assert(Files.exists(root.resolve("data").resolve(e.path)),
        s"staged file ${e.path} is missing")
      assert(e.stats.exists(_._1 == "o_orderkey"),
        s"no o_orderkey bounds recorded for ${e.path}")
    }
    val back = spark.read.schema(orders.schema).parquet(
      entries.map(e => root.resolve("data").resolve(e.path).toString): _*)
    assert(back.count() == 100L, "committed rows != staged rows")
  }

  test("stageWithTypedStats keeps every staged file when the batch " +
    "name contains '+' (URLDecoder would have deleted them as 'empty')") {
    stagesEveryFile("b+1")
  }

  test("stage keeps every staged file when the batch name contains '%'") {
    stagesEveryFile("b%2B1")
  }

  test("a stats column of the wrong type fails the stage and leaves " +
    "no file of the batch in data/") {
    val root = Files.createTempDirectory("graft_r14_type")
    val df = spark.range(0, 400, 1, 4)
      .select(col("id").cast("int").as("k"), col("id").as("v"))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.stage(df, root, "b", Seq("k"))
    }
    val left = dataFiles(root)
    assert(left.isEmpty, s"refused batch left files behind: $left")
    assert(e.getMessage.contains("'k'"), e.getMessage)
  }

  test("a task failing on its last row fails the stage and leaves no " +
    "file of the batch in data/") {
    val root = Files.createTempDirectory("graft_r14_fail")
    // an earlier committed batch under the same name must survive
    val kept = ManifestTable.stage(spark.range(0, 10, 1, 1).toDF("k"),
      root, "b")
    ManifestTable.commit(root, kept)
    // 8 partitions of 100 rows; partition 4's last row (k = 499)
    // raises, after the tasks of partitions 0-3 have written files
    val df = spark.range(0, 800, 1, 8).select(
      when(col("id") === 499L, raise_error(lit("boom")))
        .otherwise(col("id")).as("k"))
    val e = intercept[Exception] {
      ManifestTable.stage(df, root, "b", Seq("k"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")),
      e.toString)
    val left = dataFiles(root).map(p =>
      root.resolve("data").relativize(p).toString)
    assert(left.toSet == kept.toSet,
      s"failed batch left files behind: ${left.filterNot(kept.toSet)}")
    assert(ManifestTable.read(spark, root, 1,
      spark.range(0).toDF("k").schema).count() == 10L)
  }
}
