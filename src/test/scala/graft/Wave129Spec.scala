package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier
import java.util.concurrent.atomic.AtomicReference
import graft.operators.ManifestTable
import org.apache.spark.sql.functions._

/** Round-9 wave 129: MERGE under real contention — two threads
  * upserting from the SAME base version race through the OCC publish
  * loop. Disjoint key bands must BOTH land (the retry folds the
  * winner's files in); same-band racers must produce exactly one
  * winner and one serializable-writer abort, never a silent
  * last-writer-wins.
  */
class Wave129Spec extends SparkSpec {

  private def base() = {
    val root = Files.createTempDirectory("graft_mf_upsert_race")
    val df = spark.range(100).select(col("id").as("k"), (col("id") * 3).as("v"))
    val v1 = ManifestTable.commit(root, ManifestTable.stage(
      df.repartitionByRange(4, col("k")), root, "base", Seq("k")))
    assert(v1 == 1)
    (root, df)
  }

  private def race(thunks: Seq[() => Int]): Seq[Either[Throwable, Int]] = {
    val barrier = new CyclicBarrier(thunks.size)
    val outs = thunks.map(_ => new AtomicReference[Either[Throwable, Int]]())
    val ts = thunks.zip(outs).map { case (f, out) =>
      new Thread(() => {
        barrier.await()
        out.set(try Right(f()) catch { case e: Throwable => Left(e) })
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    outs.map(_.get())
  }

  test("racing DISJOINT-band upserts from one base version both land") {
    val (root, df) = base()
    val updA = spark.createDataFrame(Seq((5L, 111L))).toDF("k", "v")
    val updB = spark.createDataFrame(Seq((85L, 222L))).toDF("k", "v")
    val outs = race(Seq(
      () => ManifestTable.upsert(spark, root, 1, df.schema, "k", updA),
      () => ManifestTable.upsert(spark, root, 1, df.schema, "k", updB)))
    assert(outs.forall(_.isRight),
      s"a disjoint racer aborted: ${outs.collect { case Left(e) => e }}")
    assert(outs.collect { case Right(v) => v }.toSet == Set(2, 3),
      "the two commits must win versions 2 and 3 in some order")
    val got = ManifestTable.read(spark, root, 3, df.schema)
    assert(got.count() == 100)
    assert(got.filter(col("k") === 5L).head().getLong(1) == 111L)
    assert(got.filter(col("k") === 85L).head().getLong(1) == 222L)
    assert(got.filter(col("k") === 50L).head().getLong(1) == 150L,
      "an untouched row changed under contention")
  }

  test("racing SAME-band upserts have exactly one winner and one " +
    "loud serializable-writer abort") {
    val (root, df) = base()
    val updA = spark.createDataFrame(Seq((10L, 111L))).toDF("k", "v")
    val updB = spark.createDataFrame(Seq((10L, 222L))).toDF("k", "v")
    val outs = race(Seq(
      () => ManifestTable.upsert(spark, root, 1, df.schema, "k", updA),
      () => ManifestTable.upsert(spark, root, 1, df.schema, "k", updB)))
    val wins = outs.collect { case Right(v) => v }
    val aborts = outs.collect { case Left(e) => e }
    assert(wins == Seq(2) && aborts.size == 1,
      s"same-band race: wins=$wins, aborts=${aborts.map(_.getClass)}")
    assert(aborts.head.isInstanceOf[java.util.ConcurrentModificationException],
      s"loser must abort loudly, threw ${aborts.head}")
    val got = ManifestTable.read(spark, root, 2, df.schema)
    assert(got.count() == 100)
    val v10 = got.filter(col("k") === 10L).head().getLong(1)
    assert(v10 == 111L || v10 == 222L,
      s"key 10 holds $v10 — neither racer's image")
  }
}
