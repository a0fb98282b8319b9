package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._

/** ArtifactCache: fingerprint keying, build-once semantics, and
  * staleness behavior when a source fixture changes.
  */
class ArtifactCacheSpec extends SparkSpec {

  private def freshSource(rows: Int): String = {
    val dir = Files.createTempDirectory("graft_acspec").toString
    spark.range(rows).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/src.parquet")
    dir
  }

  test("builds once, then reads the published artifact without rebuilding") {
    val dir = freshSource(100)
    var builds = 0
    def readIt() = operators.ArtifactCache(spark, "acspec_once",
      Seq(s"$dir/src.parquet")) {
      builds += 1
      spark.read.parquet(s"$dir/src.parquet").groupBy().agg(sum("v").as("s"))
    }
    val first = readIt().head().getLong(0)
    val second = readIt().head().getLong(0)
    assert(first == second && first == (0 until 100).map(_ * 2L).sum)
    assert(builds == 1, s"expected one build, saw $builds")
  }

  test("changing the source changes the fingerprint and forces a rebuild") {
    val dir = freshSource(50)
    def readIt() = operators.ArtifactCache(spark, "acspec_stale",
      Seq(s"$dir/src.parquet")) {
      spark.read.parquet(s"$dir/src.parquet").groupBy().agg(count(lit(1)).as("n"))
    }
    assert(readIt().head().getLong(0) == 50)
    // regenerate the fixture with different contents (and mtime)
    Thread.sleep(1100)
    spark.range(75).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/src.parquet")
    assert(readIt().head().getLong(0) == 75,
      "stale artifact served after the source changed")
  }

  test("published artifacts live under distinct fingerprint dirs per source state") {
    val dir = freshSource(10)
    operators.ArtifactCache(spark, "acspec_dirs", Seq(s"$dir/src.parquet")) {
      spark.read.parquet(s"$dir/src.parquet")
    }.count()
    val root = Paths.get("/tmp/graft_cache/acspec_dirs")
    val entries = {
      val s = Files.list(root)
      try s.count() finally s.close()
    }
    assert(entries >= 1)
    // every published dir carries Spark's _SUCCESS commit marker
    val s2 = Files.list(root)
    try s2.forEach { p =>
      if (Files.isDirectory(p) && !p.getFileName.toString.contains(".p"))
        assert(Files.exists(p.resolve("_SUCCESS")), s"$p lacks _SUCCESS")
    } finally s2.close()
  }

  test("concurrent first calls in one JVM build once and share the published root") {
    val src = Files.createTempFile("graft_acspec_race", ".txt").toString
    val calls = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val roots = Seq.fill(4)(pool.submit(new Callable[String] {
        def call(): String = {
          go.await()
          operators.ArtifactCache.path("acspec_race", Seq(src)) { staging =>
            calls.incrementAndGet()
            val d = Files.createDirectories(Paths.get(staging))
            Thread.sleep(500) // slow build: the other callers arrive meanwhile
            Files.write(d.resolve("part-0"), "x".getBytes("UTF-8"))
            Files.createFile(d.resolve("_SUCCESS"))
          }
        }
      }))
      go.countDown()
      val got = roots.map(_.get(60, TimeUnit.SECONDS)).distinct
      assert(calls.get == 1, s"write callback ran ${calls.get} times")
      assert(got.size == 1, s"callers got different roots: $got")
      val root = Paths.get(got.head)
      assert(Files.exists(root.resolve("_SUCCESS")) &&
        Files.exists(root.resolve("part-0")), s"$root is not the complete build")
    } finally pool.shutdownNow()
  }
}
