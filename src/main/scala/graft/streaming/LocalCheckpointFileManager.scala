package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files without process forks. Every micro-batch
  * writes an offset-log entry, a commit-log entry and state-store
  * files. Without Hadoop's native library, Spark's default manager
  * (`FileContext`-based) forks `readlink` for each link-status call,
  * and the local filesystem forks `chmod` for each file or directory it
  * creates: 8,936 process starts in one lifebench `kappa_stream` run
  * (SCALE.md).
  *
  * The backend is chosen from the scheme of the checkpoint path:
  *  - `file:` paths get Spark's `FileSystemBasedCheckpointFileManager`
  *    over [[NioLocalFileSystem]], whose permission and link-status
  *    calls go through `java.nio.file`. The `.crc` files and the
  *    temp-file-then-rename commit stay. The NIO filesystem is handed
  *    to these managers alone: one instance, kept outside Hadoop's
  *    FileSystem cache, serves them all, as one cached instance serves
  *    the session.
  *  - every other scheme gets exactly the manager Spark's own
  *    `CheckpointFileManager.create` picks without this class, so HDFS
  *    keeps `FileContext`'s atomic rename and object stores keep
  *    theirs.
  *
  * Spark instantiates the class named by
  * `spark.sql.streaming.checkpointFileManagerClass`; [[StreamingSession.install]]
  * sets that conf, and every public streaming entry point of
  * [[Streaming]] and [[BlockWriter]] calls it before a query starts.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[graft] val delegate: CheckpointFileManager =
    if (localScheme(path, hadoopConf)) new NioCheckpointFileManager(path, hadoopConf)
    else {
      val sparkDefault = new Configuration(hadoopConf)
      sparkDefault.unset(ConfKey)
      CheckpointFileManager.create(path, sparkDefault)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** Spark's own setting naming the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def localScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  private var nioFs: FileSystem = _

  /** The one [[NioLocalFileSystem]], initialized from the first conf
    * that asks (Hadoop's FileSystem cache does the same for the
    * session's local filesystem). */
  private[streaming] def nioFileSystem(conf: Configuration): FileSystem =
    synchronized {
      if (nioFs == null) {
        val fs = new NioLocalFileSystem
        fs.initialize(java.net.URI.create("file:///"), conf)
        nioFs = fs
      }
      nioFs
    }
}

/** Spark's FileSystem-based checkpoint manager over the shared
  * [[NioLocalFileSystem]]. Every method of the parent reaches its
  * filesystem through `fs`. */
private class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, conf) {
  override protected val fs: FileSystem =
    LocalCheckpointFileManager.nioFileSystem(conf)
}

/** Hadoop's checksummed local filesystem over [[NioRawLocalFileSystem]]. */
private[graft] class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` and `getFileLinkStatus`
  * use `java.nio.file` instead of forking `chmod` and `readlink` when
  * Hadoop's native library is missing. A sticky bit, a non-POSIX
  * filesystem or a symbolic link falls back to Hadoop's own code. */
private[graft] class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & 0x200) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission is declared OWNER_READ .. OTHERS_EXECUTE,
      // the rwxrwxrwx bits from high to low
      PosixFilePermission.values.foreach { pp =>
        if ((bits & (1 << (8 - pp.ordinal))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
