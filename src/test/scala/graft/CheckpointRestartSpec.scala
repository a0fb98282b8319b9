package graft

import java.nio.file.Files

import graft.operators.{LocalCheckpointFiles, ManifestTable, Streaming}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** A stream checkpoint moves between [[LocalCheckpointFiles]] (every
  * engine stream, through [[Streaming.awaitStream]]) and Spark's default
  * checkpoint file manager in both directions: the restarted query reads
  * the other manager's offset, commit and state-store files, commits
  * only the new batch and keeps the deduplication state.
  */
class CheckpointRestartSpec extends SparkSpec {

  private def viaEngine(start: => StreamingQuery): Unit =
    Streaming.awaitStream(spark)(start): Unit

  private def viaSparkDefault(start: => StreamingQuery): Unit = {
    assert(spark.conf.getOption(LocalCheckpointFiles.ConfKey).isEmpty)
    start.awaitTermination()
  }

  Seq("LocalCheckpointFiles then Spark's default" ->
      Seq(viaEngine _, viaSparkDefault _),
    "Spark's default then LocalCheckpointFiles" ->
      Seq(viaSparkDefault _, viaEngine _)).foreach { case (order, runs) =>
    test(s"a checkpoint restarts across managers: $order") {
      val base = Files.createTempDirectory("graft_ckptrestart")
      val (src, root, ckpt) = (base.resolve("src"), base.resolve("t"),
        base.resolve("ckpt"))
      Files.createDirectories(src); Files.createDirectories(root)
      def addSrc(lo: Long, hi: Long, name: String): Unit =
        spark.range(lo, hi).selectExpr("id AS k").coalesce(1)
          .write.parquet(src.resolve(name).toString)
      def drain(run: (=> StreamingQuery) => Unit): Unit = run(
        spark.readStream.schema("k BIGINT").parquet(s"$src/*")
          .dropDuplicates("k")
          .writeStream.format("graft-manifest")
          .option("path", root.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start())
      addSrc(0, 10, "a")
      drain(runs(0))
      assert(ManifestTable.latestVersion(root) == 1)
      addSrc(5, 25, "b") // 5..9 repeat: the restored state drops them
      drain(runs(1))
      assert(ManifestTable.latestVersion(root) == 2,
        "the restart re-committed a batch")
      assert(ManifestTable.committedBatches(root) == Set(0L, 1L))
      val rows = ManifestTable.read(spark, root, 2,
          StructType.fromDDL("k BIGINT"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(rows == (0L until 25L), s"${rows.size} rows after restart")
    }
  }
}
