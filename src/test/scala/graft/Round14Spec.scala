package graft

import java.nio.file.Files
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-14 optimization guards: the one-job typed-stats map must key
  * staged files by a decode that round-trips every legal batch name —
  * a lookup miss is treated as "empty file" and DELETES the staged
  * file, so a decode mismatch would silently drop rows from the commit
  * (r13 ADVICE item 1). URLDecoder turned a literal '+' into a space;
  * the URI-path decode must not.
  */
class Round14Spec extends SparkSpec {

  test("stageWithTypedStats keeps every staged file when the batch " +
    "name contains '+' (URLDecoder would have deleted them as 'empty')") {
    val root = Files.createTempDirectory("graft_r14_plus")
    val orders = Tables.table(spark, sfDir, "orders").limit(100)
    val staged = ManifestTable.stageWithStats(
      orders.repartition(3), root, "b+1", "o_orderkey")
    assert(staged.size == 3, s"expected 3 staged files, got $staged")
    val v = ManifestTable.commit(root, staged)
    val entries = ManifestTable.entriesFor(root, v)
    assert(entries.size == 3)
    entries.foreach { e =>
      assert(e.path.startsWith("b+1-"), s"unexpected staged name ${e.path}")
      assert(Files.exists(root.resolve("data").resolve(e.path)),
        s"staged file ${e.path} was deleted — decode mismatch treated a " +
          "non-empty file as empty")
      assert(e.stats.exists(_._1 == "o_orderkey"),
        s"no o_orderkey bounds recorded for ${e.path}")
    }
    val back = spark.read.schema(orders.schema).parquet(
      entries.map(e => root.resolve("data").resolve(e.path).toString): _*)
    assert(back.count() == 100L, "committed rows != staged rows")
  }

  test("a refused stageWithTypedStats commit leaves no staged files in data/") {
    val root = Files.createTempDirectory("graft_r14_orphan")
    // a '/' in the batch name stages into data/sub/, while the stats job
    // names each file by its basename: no stats row matches a staged name
    Files.createDirectories(root.resolve("data").resolve("sub"))
    val orders = Tables.table(spark, sfDir, "orders").limit(100)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.stageWithStats(
        orders.repartition(3), root, "sub/b", "o_orderkey")
    }
    assert(e.getMessage.contains("name decode mismatch"), e.getMessage)
    val st = Files.walk(root.resolve("data"))
    val left = try st.filter(Files.isRegularFile(_)).toArray.toSeq
      finally st.close()
    assert(left.isEmpty, s"refused batch left files behind: $left")
  }
}
