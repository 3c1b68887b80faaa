package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.UUID

/** The one way the engine publishes a file: `fill` writes a temp file with
  * a unique name in the target's directory, which is then ATOMIC_MOVEd
  * over the target. A reader sees the old file or the whole new one, never
  * a part of it, and two writers (two JVMs) never share a temp name. The
  * temp is deleted in a `finally`, so a failed `fill` leaves nothing
  * behind. The target's directory is created if missing. Returns `path`. */
object Commit {

  def write(path: Path)(fill: Path => Unit): Path = {
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    // dot-prefixed: Spark and Hadoop listings skip it
    val tmp = dir.resolve(s".${path.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      fill(tmp)
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
    path
  }

  def writeString(path: Path, s: String): Path =
    write(path)(Files.writeString(_, s, StandardCharsets.UTF_8))
}
