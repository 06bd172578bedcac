package graft.io

import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, FsConstants,
  FSDataInputStream, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of every streaming query this program starts
  * ([[Io.prepareStreaming]] names it on the session). On `file:` paths it writes
  * offsets, commits, sink manifests and state files without forking a
  * process; every other scheme gets the manager Spark's own factory picks
  * (`FileContextBasedCheckpointFileManager` for HDFS and S3), unchanged.
  *
  * Spark's default local manager goes through Hadoop's FileContext, whose
  * rename forks `readlink` and whose create and mkdir fork `chmod`: about
  * 20 processes per state partition per micro-batch. This one keeps Spark's
  * `FileSystemBasedCheckpointFileManager` semantics over a checksummed
  * `LocalFileSystem` whose raw layer sets permissions with java.nio (the
  * same bits the forked `chmod` sets), so:
  *  - every file keeps its Hadoop `.crc` sidecar and reads verify it;
  *  - Spark's own state-file checksums wrap this manager and are untouched;
  *  - a rename that may not overwrite (every metadata-log batch file) is
  *    atomic and no-clobber, as FileContext's `rename(NONE)` is: a hard link
  *    to the final name, then the `.crc` moves and the temp file goes. A lost
  *    race throws Hadoop's `FileAlreadyExistsException` and leaves the
  *    existing file and its `.crc` as they were;
  *  - a `.crc` mismatch fails the read with a `ChecksumException` and leaves
  *    the file in place, as the default manager does. */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[io] val delegate: CheckpointFileManager =
    if (LocalCheckpointFileManager.isFileScheme(path, conf)) new NioCheckpointFileManager(path, conf)
    else {
      val default = new Configuration(conf)
      default.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, default)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Spark's session conf that names the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}

/** Spark's `FileSystemBasedCheckpointFileManager` over a fork-free
  * `LocalFileSystem`, with an atomic no-clobber rename. */
private class NioCheckpointFileManager(path: Path, conf: Configuration)
  extends FileSystemBasedCheckpointFileManager(path, conf) {

  override protected val fs: LocalFileSystem = {
    val raw = new RawLocalFileSystem {
      override def setPermission(p: Path, permission: FsPermission): Unit =
        if (permission.getStickyBit) super.setPermission(p, permission)
        else Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
    }
    // a checksum mismatch fails the read and leaves the file where it is, as
    // FileContext's ChecksumFs does (LocalFileSystem would move it to a
    // `bad_files` directory)
    val local = new LocalFileSystem(raw) {
      override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    local.setConf(conf)
    local.initialize(FsConstants.LOCAL_FS_URI, conf)
    local
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (overwriteIfPossible) super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      val (from, to) = (fs.pathToFile(src).toPath, fs.pathToFile(dst).toPath)
      try Files.createLink(to, from)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(src, false)
          throw new FileAlreadyExistsException(s"Failed to rename $src to $dst: it exists")
      }
      val (fromCrc, toCrc) =
        (fs.pathToFile(fs.getChecksumFile(src)).toPath, fs.pathToFile(fs.getChecksumFile(dst)).toPath)
      if (Files.exists(fromCrc)) Files.move(fromCrc, toCrc, StandardCopyOption.ATOMIC_MOVE)
      else Files.deleteIfExists(toCrc)
      Files.delete(from)
    }
}
