package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local `file:` filesystem with its two forking calls done
  * in-process.
  *
  * Without libhadoop's `NativeIO`, the stock `RawLocalFileSystem` runs
  * `chmod` in a child process for every file and directory it creates
  * (`setPermission`), and `readlink` for every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both ends of each rename. A partitioned
  * parquet write forks once per file, `.crc` sibling and directory; a
  * streaming checkpoint forks on every commit. Here:
  *
  *  - `setPermission` sets the 9 rwx bits with
  *    `Files.setPosixFilePermissions`. A mode with a sticky bit, or a target
  *    that already carries setuid/setgid/sticky bits (which `chmod` keeps on
  *    directories and clears on files), goes to the stock call, so the bits
  *    on disk are always exactly what the stock call leaves.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what the stock call returns once `readlink`
  *    answers empty; real links still take the stock call.
  *
  * Everything else, bytes and `.crc` siblings included, is the stock
  * `LocalFileSystem`. [[LocalFs.Afs]] is the `FileContext` twin over the same
  * raw filesystem. [[graft.GraftSession]] binds both to the `file` scheme. */
class LocalFs extends LocalFileSystem(new LocalFs.RawFs)

object LocalFs {

  /** `fs.file.impl` and `fs.AbstractFileSystem.file.impl` for this
    * filesystem, without the `spark.hadoop.` prefix. */
  val HadoopConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Afs].getName)

  /** setuid, setgid and sticky: 07000. */
  private val Special = 0xe00
  private val PosixBits: Array[PosixFilePermission] = PosixFilePermission.values()

  /** The stock raw filesystem with `setPermission` and
    * `getFileLinkStatus` answered in-process where that is exact. */
  class RawFs extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val target = pathToFile(p).toPath
      val want = permission.toShort.toInt
      val have = Files.getAttribute(target, "unix:mode").asInstanceOf[Integer].intValue
      if (((want | have) & Special) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission.values() lists OWNER_READ (bit 8) down to
        // OTHERS_EXECUTE (bit 0)
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        var bit = 0
        while (bit < 9) {
          if ((want & (1 << bit)) != 0) perms.add(PosixBits(8 - bit))
          bit += 1
        }
        Files.setPosixFilePermissions(target, perms)
      }
    }

    // The stock call runs `readlink` on `new File(f.toString)`, which for a
    // scheme-qualified path names no file and reads as "not a link"; the
    // same lookup keeps that answer.
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new java.io.File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[RawFs]]. */
  final class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `org.apache.hadoop.fs.local.LocalFs` over [[RawAfs]]: what
    * `FileContext` (streaming checkpoints, state stores) uses for `file:`. */
  final class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))
}
