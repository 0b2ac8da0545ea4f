package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system for `file:` paths, with the
  * permission step on `java.nio`: the batch writers' part files, `.crc`
  * sidecars, `_SUCCESS` markers and output-committer directories, and
  * the streaming checkpoints ([[LocalCheckpointFiles]]), are created the
  * way fluent-bit's `out_file` creates its files, with no child process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod`,
  * and its `create` and `mkdirs` call it for every file and directory.
  * [[NioLocalFileSystem.Raw]] sets the same mode bits with
  * `Files.setPosixFilePermissions`; everything else, data, names,
  * checksums and the umask Hadoop applies, is Hadoop's own. The session
  * binds it through `fs.file.impl` ([[LocalCheckpointFiles.install]]).
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  private val Bits = PosixFilePermission.values.toSeq

  /** The raw file system under the checksums; only `setPermission` differs. */
  final class Raw extends RawLocalFileSystem {
    /** A mode with setuid, setgid or sticky bits, asked for or already on
      * the file, takes Hadoop's `chmod`: `java.nio` can set only the nine
      * permission bits, and `chmod` keeps a directory's setgid bit, which
      * a plain mode change would clear.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val f = pathToFile(p).toPath
      // 0x1ff is 0777, 0xe00 is 07000
      val plain = (mode & ~0x1ff) == 0 &&
        (try (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
         catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false })
      if (!plain) super.setPermission(p, permission)
      else {
        val set = EnumSet.noneOf(classOf[PosixFilePermission])
        Bits.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b))
        Files.setPosixFilePermissions(f, set)
      }
    }
  }
}
