package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter,
  UnsupportedFileSystemException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** The streaming checkpoint store: offset, commit, sink and state files
  * — the engine's `storage.type filesystem` chunk files
  * (`src/flb_storage.c`), written through the same `file:` layer as the
  * batch writers, as fluent-bit writes its chunks through one storage
  * layer.
  *
  * Spark's default manager writes through Hadoop's `FileContext`, whose
  * local file system is a stock `RawLocalFileSystem`: without libhadoop
  * it forks `chmod` for every file and directory it creates and several
  * `readlink`s for every rename (`FileUtil.readLink`). For `file:` paths
  * this store is Spark's `FileSystemBasedCheckpointFileManager`
  * instead, which goes through the `FileSystem` that `fs.file.impl`
  * names: [[NioLocalFileSystem]], bound by the same [[install]]. It keeps
  * Spark's protocol (write a hidden temp file, then rename it over the
  * final name) and Hadoop's `.crc` sidecars, so a checkpoint directory
  * has stock Spark's layout, and no process starts.
  *
  * Any other scheme gets Spark's default manager for every call,
  * unchanged. Spark builds this class through
  * `spark.sql.streaming.checkpointFileManagerClass` ([[install]]).
  */
final class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  /** The manager every call goes to: Spark's `FileSystem`-based one on
    * `file:`, else what `CheckpointFileManager.create` builds when the key
    * is unset.
    */
  private[graft] val files: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file")
      new FileSystemBasedCheckpointFileManager(path, conf)
    else
      try new FileContextBasedCheckpointFileManager(path, conf)
      catch { case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, conf) }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    files.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = files.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = files.list(p, filter)
  override def mkdirs(p: Path): Unit = files.mkdirs(p)
  override def exists(p: Path): Boolean = files.exists(p)
  override def delete(p: Path): Unit = files.delete(p)
  override def isLocal: Boolean = files.isLocal
  override def createCheckpointDirectory(): Path = files.createCheckpointDirectory()
  override def close(): Unit = files.close()
}

object LocalCheckpointFiles {
  /** Spark's session key naming the checkpoint store class. */
  val Key: String = SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key

  /** Hadoop's key naming the `file:` file system class. */
  val FileImplKey: String = "fs.file.impl"

  /** Hadoop's key that keeps `file:` instances out of its JVM-wide cache. */
  val FileNoCacheKey: String = "fs.file.impl.disable.cache"

  /** Select this store for `spark`'s streaming queries and bind `file:` to
    * [[NioLocalFileSystem]] for its batch writers, output committer and
    * `file:` checkpoints, each unless its key is already set: an explicit
    * choice wins.
    *
    * Both go in the session conf, which `sessionState.newHadoopConf()`
    * copies into the Hadoop conf that file writers ship to their tasks
    * and hand to the committer. Hadoop caches file systems JVM-wide by
    * scheme and user, not by class, so once any stock `file:` instance
    * is cached, `fs.file.impl` alone would be ignored; the binding
    * therefore also turns that cache off for this session's `file:`
    * lookups. Spark's own conf, and with it every other `file:` user in
    * the JVM, keeps the cached stock instance.
    */
  def install(spark: SparkSession): Unit = {
    def setIfUnset(k: String, v: String): Boolean =
      spark.conf.getOption(k).isEmpty && { spark.conf.set(k, v); true }
    setIfUnset(Key, classOf[LocalCheckpointFiles].getName)
    if (setIfUnset(FileImplKey, classOf[NioLocalFileSystem].getName)) setIfUnset(FileNoCacheKey, "true")
  }
}
