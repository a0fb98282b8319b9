package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** ArtifactCache: fingerprint and code-stamp keying, build-once
  * semantics, and staleness behavior when a source fixture changes.
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

  test("artifact roots built by different engine code are distinct") {
    val dir = freshSource(5)
    val src = Seq(s"$dir/src.parquet")
    val stamp = operators.ArtifactCache.codeStamp
    assert(stamp.matches("[0-9a-f]{16}") &&
      stamp == operators.ArtifactCache.codeStamp)
    assert(operators.ArtifactCache.rootFor("acspec_code", src, "aaaa") !=
      operators.ArtifactCache.rootFor("acspec_code", src, "bbbb"))
    operators.ArtifactCache(spark, "acspec_code", src) {
      spark.read.parquet(src.head)
    }.count()
    assert(Files.exists(operators.ArtifactCache
      .rootFor("acspec_code", src, stamp).resolve("_SUCCESS")))
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

  test("a partitioned withWriter layout keeps its inferred partition types and resolves its schema once") {
    val dir = freshSource(40)
    def readIt() = operators.ArtifactCache.withWriter(spark, "acspec_parts",
      Seq(s"$dir/src.parquet")) { out =>
      spark.read.parquet(s"$dir/src.parquet")
        .withColumn("bucket", (col("id") % 4).cast("int"))
        .write.partitionBy("bucket").mode("overwrite").parquet(out)
    }
    val first = readIt()
    val root = operators.ArtifactCache.path("acspec_parts",
      Seq(s"$dir/src.parquet"))(_ => sys.error("published root rebuilt"))
    assert(first.schema == spark.read.parquet(root).schema)
    assert(first.schema("bucket").dataType == IntegerType)
    assert(jobs(readIt()) == 0)
    val one = readIt().filter(col("bucket") === 1)
    assert(one.count() == 10)
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan(one)).isDefined,
      "the bucket filter is no longer a partition filter")
  }
}
