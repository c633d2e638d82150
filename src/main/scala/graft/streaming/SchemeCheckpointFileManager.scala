package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter,
  UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager [[graft.GraftSession]] installs
  * (`spark.sql.streaming.checkpointFileManagerClass`): it picks Spark's own
  * manager by the resolved scheme of the checkpoint path.
  *
  *  - `file:` uses the `FileSystem`-API manager. Spark's default, the
  *    `FileContext` manager, renames through `FileContext.rename`, which
  *    stats source and destination with `getFileLinkStatus`; without
  *    libhadoop the local implementation forks a `readlink` process for
  *    each. Every state-store delta, checksum sidecar and metadata-log entry
  *    is committed by such a rename, so a stateful micro-batch forked
  *    thousands of processes. `FileSystem.rename` on the local FS is the
  *    same existence check followed by `File.renameTo` (rename(2)), with no
  *    fork.
  *  - Every other scheme keeps Spark's default, because `FileSystem.rename`
  *    cannot overwrite atomically on HDFS — including Spark's fallback to
  *    the `FileSystem` manager for schemes without a `FileContext` binding.
  *
  * Integrity checks stay: the local FS is still the checksummed
  * `LocalFileSystem` (`.name.crc`), and the state store still wraps this
  * manager in Spark's `ChecksumCheckpointFileManager` (`name.crc`). */
class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    // a scheme-less path resolves against the default file system
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else try new FileContextBasedCheckpointFileManager(path, hadoopConf) catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    }
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
