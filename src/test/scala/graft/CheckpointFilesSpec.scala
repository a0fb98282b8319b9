package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.operators.LocalCheckpointFiles
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}

/** [[LocalCheckpointFiles]], the checkpoint file manager every engine
  * stream uses: a stream replay starts no Hadoop shell process, a
  * refused or cancelled atomic write leaves nothing behind, `.crc`
  * sidecars are verified on read, and files and directories get the
  * permissions Spark's default manager gives them.
  */
class CheckpointFilesSpec extends SparkSpec {

  private val conf = new Configuration()

  private def dir(): JPath = Files.createTempDirectory("graft_ckptfiles")

  private def names(d: JPath): Set[String] = {
    val s = Files.list(d)
    try s.iterator.asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  private def write(fm: CheckpointFileManager, p: Path,
      bytes: Array[Byte]): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write(bytes)
    out.close()
  }

  /** Process starts during `body`, each with its stack's class names. */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_ckptfiles", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq
            .flatMap(_.getFrames.asScala).map(_.getMethod.getType.getName)
          (String.valueOf(e.getValue[AnyRef]("command")), frames)
        }
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  test("a stream_late_drop replay starts no Hadoop shell process") {
    q("stream_late_drop").collect() // stages the replay files once per JVM
    val starts = processStarts {
      new ProcessBuilder("true").start().waitFor() // the recording works
      q("stream_late_drop").collect()
    }
    assert(starts.exists(_._1.startsWith("true")),
      s"the recording missed a process start: $starts")
    val shell = starts.filter(_._2.exists(
      _.startsWith("org.apache.hadoop.util.Shell")))
    assert(shell.isEmpty, s"${shell.size} Hadoop shell processes: " +
      shell.map(_._1).groupBy(_.takeWhile(_ != ' ')).view
        .mapValues(_.size).toMap)
  }

  test("manifest data and checkpoint-segment writes start no Hadoop shell process") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_ckptfiles_mf").resolve("t")
    val df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
    val starts = processStarts {
      new ProcessBuilder("true").start().waitFor() // the recording works
      df.repartition(4).write.format("graft-manifest")
        .option("path", root.toString).option("statsColumns", "k")
        .mode("append").save()
      operators.ManifestTable.deleteWhereCoW(spark, root, df.schema,
        col("k") < 100, longBands = Seq(("k", 0L, 99L)))
    }
    assert(operators.ManifestTable.read(spark, root,
      operators.ManifestTable.latestVersion(root), df.schema).count() == 300)
    val segs = Files.list(root.resolve("_manifests"))
    try assert(segs.iterator.asScala.exists(_.getFileName.toString
      .endsWith(".parquet")), "no checkpoint segment was written")
    finally segs.close()
    assert(starts.exists(_._1.startsWith("true")),
      s"the recording missed a process start: $starts")
    val shell = starts.filter(_._2.exists(
      _.startsWith("org.apache.hadoop.util.Shell")))
    assert(shell.isEmpty, s"${shell.size} Hadoop shell processes: " +
      shell.map(_._2.find(_.startsWith("graft.")).getOrElse("?")))
  }

  test("a refused no-overwrite write throws and leaves no temp file or .crc") {
    val d = dir()
    val fm = new LocalCheckpointFiles(new Path(d.toUri), conf)
    val p = new Path(d.resolve("0").toUri)
    write(fm, p, "first".getBytes("UTF-8"))
    val before = names(d)
    assert(before == Set("0", ".0.crc"))
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second".getBytes("UTF-8"))
    }
    assert(names(d) == before)
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), "UTF-8") == "first")
    finally in.close()
  }

  test("cancel deletes the temp file and its .crc") {
    val d = dir()
    val fm = new LocalCheckpointFiles(new Path(d.toUri), conf)
    val out = fm.createAtomic(new Path(d.resolve("1").toUri),
      overwriteIfPossible = false)
    out.write(Array.fill[Byte](4096)(7))
    assert(names(d).nonEmpty, "the temp file should exist before cancel")
    out.cancel()
    assert(names(d).isEmpty, s"left behind: ${names(d)}")
  }

  test("a flipped byte fails the read with ChecksumException") {
    val d = dir()
    val fm = new LocalCheckpointFiles(new Path(d.toUri), conf)
    val p = new Path(d.resolve("2").toUri)
    write(fm, p, Array.tabulate[Byte](2000)(_.toByte))
    val raw = Files.readAllBytes(d.resolve("2"))
    raw(1000) = (raw(1000) ^ 1).toByte
    Files.write(d.resolve("2"), raw)
    intercept[ChecksumException] {
      val in = fm.open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  test("files and directories get Spark's default manager's permissions") {
    def made(fm: CheckpointFileManager, d: JPath) = {
      write(fm, new Path(d.resolve("f").toUri), Array[Byte](1, 2, 3))
      fm.mkdirs(new Path(d.resolve("a/b").toUri))
      Seq("f", ".f.crc", "a", "a/b").map(n =>
        n -> Files.getPosixFilePermissions(d.resolve(n)))
    }
    val (d1, d2) = (dir(), dir())
    val default = made(new FileContextBasedCheckpointFileManager(
      new Path(d1.toUri), conf), d1)
    val ours = made(new LocalCheckpointFiles(new Path(d2.toUri), conf), d2)
    assert(ours == default)
  }
}
