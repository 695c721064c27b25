package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem (`fs.file.impl` in the classpath
  * `core-site.xml`): Hadoop's checksummed `LocalFileSystem`, `.crc`
  * sidecars kept, over a [[NioRawLocalFileSystem]].
  *
  * Without the native libhadoop, the stock raw filesystem sets the mode
  * of every file it creates and every directory it makes by forking
  * `chmod` through `org.apache.hadoop.util.Shell`: one process per
  * parquet part file, per `.crc`, per commit and per checkpoint entry.
  *
  * Streaming checkpoints and sink logs need a second key in the same
  * file, `spark.sql.streaming.checkpointFileManagerClass` set to Spark's
  * `FileSystemBasedCheckpointFileManager`. Spark's default manager goes
  * through `FileContext`, whose `LocalFs` builds its own raw filesystem
  * and ignores `fs.file.impl`; its no-overwrite rename resolves both
  * paths with `getFileLinkStatus`, which forks `readlink` for each. The
  * `FileSystem` manager checks that the target does not exist, then
  * renames. That loses no atomicity on `file://`: the `FileContext`
  * no-overwrite rename there is the same check-then-rename
  * (`AbstractFileSystem.renameInternal`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` applies the 9 mode bits
  * through `Files.setPosixFilePermissions` (one `chmod(2)` in the JVM)
  * instead of a forked `chmod`. `mkdirs` with a permission and every
  * created output stream reach this method, so none of them forks.
  *
  * Two cases keep the stock path, so no bit is silently dropped: a mode
  * above `0777` (sticky, setuid, setgid), which the nio permission set
  * cannot express; and a directory that carries a setuid or setgid bit,
  * which `chmod 0755` keeps and a 9-bit `chmod(2)` would clear. A
  * failure raises an `IOException`, as the forked `chmod` does. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if ((permission.toShort & ~NioRawLocalFileSystem.Rwx) != 0 ||
        NioRawLocalFileSystem.isSetIdDirectory(file)) {
      super.setPermission(p, permission)
    } else {
      Files.setPosixFilePermissions(file,
        PosixFilePermissions.fromString(permission.toString))
    }
  }
}

object NioRawLocalFileSystem {
  /** 0777: the user, group and other rwx bits. */
  private val Rwx = 0x1ff
  /** 0040000 and 0170000: the directory type and the file-type mask. */
  private val Dir = 0x4000
  private val TypeMask = 0xf000
  /** 06000: setuid and setgid. */
  private val SetId = 0xc00

  private def isSetIdDirectory(file: JPath): Boolean = {
    val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (mode & TypeMask) == Dir && (mode & SetId) != 0
  }
}
