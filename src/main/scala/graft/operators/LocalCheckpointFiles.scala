package graft.operators

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager of every stream the engine starts
  * ([[Streaming.awaitStream]] names it in
  * `spark.sql.streaming.checkpointFileManagerClass`): the offset and
  * commit logs, the file-source log, the stream metadata and the
  * state-store files.
  *
  * On a local (`file`) path it is Spark's
  * `FileSystemBasedCheckpointFileManager` over a checksummed Hadoop
  * `LocalFileSystem` whose raw layer sets permissions through
  * `java.nio` instead of a `chmod` child process. Without `libhadoop`,
  * Spark's default manager starts a `chmod` for every file and
  * directory it creates and several `readlink`s for every rename
  * (`FileContext` symlink resolution) — about 370 processes for one
  * three-batch replay, each a few ms, on the state-store commit path.
  * The files are the same: the same names, the same `.crc` sidecars
  * (written, and verified on read) and the same permission bits, so a
  * checkpoint restarts under either manager. One difference: an
  * `overwriteIfPossible = false` rename onto an existing file deletes
  * its temp file (and `.crc`) before rethrowing, where Spark's
  * managers leave it behind.
  *
  * Any other path gets exactly the manager Spark would build without
  * this class.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private val impl: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocalPath(path, conf))
      new LocalCheckpointFiles.OnLocalFs(path, conf)
    else {
      val default = new Configuration(conf)
      default.unset(LocalCheckpointFiles.ConfKey)
      CheckpointFileManager.create(path, default)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path) = impl.open(p)
  override def list(p: Path, filter: PathFilter) = impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {

  /** The conf Spark's `CheckpointFileManager.create` reads
    * (`SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS`).
    */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A scheme-less path resolves against `fs.defaultFS`. */
  private def isLocalPath(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private class OnLocalFs(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new NioPermissions)
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }

    override def renameTempFile(src: Path, dst: Path,
        overwriteIfPossible: Boolean): Unit =
      try super.renameTempFile(src, dst, overwriteIfPossible)
      catch {
        case e: FileAlreadyExistsException =>
          fs.delete(src, false)
          throw e
      }
  }

  /** `RawLocalFileSystem` whose only change is `setPermission`: the same
    * bits (`rwxr-x---`, the form both APIs print), applied in-process. A
    * sticky bit has no `java.nio` form and keeps Hadoop's `chmod`.
    */
  private class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.toString))
  }
}
